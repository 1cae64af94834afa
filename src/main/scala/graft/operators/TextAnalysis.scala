package graft.operators

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/**
 * Text-analysis verbs for training-data pipelines (SURVEY §2.3 T) —
 * the surfaced form of what the reference buries inside
 * `embedder_tfidf` (tokenization, vocabulary statistics,
 * /root/reference/R/embedders.R:341-350) plus the standard corpus-
 * curation metrics (language ID, quality scoring, token counting,
 * fingerprinting). Everything here is built from codegen'd built-in
 * functions — no UDFs — so the whole stage fuses into one pass over
 * the corpus.
 *
 * Each verb has a deliberately *engine-portable* definition (same
 * regexes, same set semantics) so the DuckDB oracle can replicate it
 * exactly; the SQL fragments in `TextAnalysisSql` are generated from
 * the same constants.
 */
object TextAnalysis {

  /** Reserved-internal-name guard (the refuse-don't-wedge convention):
    * operators that ride `__`-prefixed temp columns on the CALLER's
    * frame reject inputs that already carry those names — silently
    * overwriting (then dropping) a user column is data loss. */
  private def requireNoReserved(df: org.apache.spark.sql.DataFrame,
      reserved: Seq[String], op: String): Unit = {
    val clash = df.columns.toSet.intersect(reserved.toSet)
    require(clash.isEmpty,
      s"$op reserves internal column name(s) ${clash.mkString(", ")} — " +
        "rename them on the input frame")
  }

  /** Pinned whitespace boundary (explicit char class, identical in
    * Java regex and DuckDB's RE2 — `\s` is NOT: RE2's lacks U+000B) —
    * see [[graft.expressions.ShingleHashes.WsRegex]]. Every tokenizer
    * here and every oracle fragment below spells this class, so the
    * token boundary set is identical across engines by construction. */
  val WsClass: String = graft.expressions.ShingleHashes.WsClass
  val Ws: String = graft.expressions.ShingleHashes.WsRegex

  /** Distinct lowercase whitespace tokens (set semantics). */
  def tokenSet(text: Column): Column =
    array_distinct(filter(split(lower(text), Ws), t => length(t) > 0))

  /** Gopher-style repetition counters in one codegen pass — see
    * [[graft.expressions.RepetitionStats]]. */
  def repetitionStats(text: Column, seed: Int = 42): Column =
    org.apache.spark.sql.graftbridge.ColumnBridge.column(
      graft.expressions.RepetitionStats(
        org.apache.spark.sql.graftbridge.ColumnBridge.expression(text), seed))

  /** Whitespace token count (duplicates counted). */
  def tokenCount(text: Column): Column =
    size(filter(split(lower(text), Ws), t => length(t) > 0)).cast("long")

  /** Winnowing fingerprint set over a Rabin–Karp ROLLING character
    * k-gram hash (the MOSS algorithm) — substring-level document
    * fingerprints with the guarantee that any shared run of
    * w + k − 1 characters yields a shared fingerprint. See
    * [[graft.expressions.WinnowFingerprint]]. */
  def winnowFingerprint(text: Column, k: Int = 5, w: Int = 4): Column =
    org.apache.spark.sql.graftbridge.ColumnBridge.column(
      graft.expressions.WinnowFingerprint(
        org.apache.spark.sql.graftbridge.ColumnBridge.expression(text), k, w))

  /** BPE-ish subword proxy: runs of letters, runs of digits, or single
    * non-alnum-non-space chars — the standard pre-tokenizer shape. */
  val WordRegex = s"[A-Za-z]+|[0-9]+|[^A-Za-z0-9$WsClass]"
  def regexTokenCount(text: Column): Column =
    regexp_count(text, lit(WordRegex)).cast("long")

  /** Non-alphanumeric, non-space character count (punctuation mass). */
  def punctCount(text: Column): Column =
    length(regexp_replace(text, s"[A-Za-z0-9$WsClass]", ""))

  /** Tiny per-language stopword profiles for the n-gram/stopword
    * language-ID heuristic. Order = tie precedence. */
  val LangProfiles: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of", "to", "in", "is", "you", "that", "it", "for"),
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "mit", "ein", "eine", "zu"),
    "es" -> Seq("el", "los", "las", "y", "es", "no", "por", "que", "una", "como"),
    "fr" -> Seq("le", "la", "les", "et", "est", "pas", "pour", "dans", "une", "vous"))
  /** CJK detection: count of Han characters. */
  val CjkClass = "[\\u4e00-\\u9fff]"

  /** Per-language stopword-set hit count (unique hits, set semantics). */
  def langHits(text: Column, lang: String): Column = {
    val words = LangProfiles.toMap.apply(lang)
    size(array_intersect(tokenSet(text), array(words.map(lit): _*)))
  }

  def cjkCount(text: Column): Column =
    length(regexp_replace(text, CjkClass.replace("[", "[^"), ""))

  /** Language-ID: argmax of profile scores with fixed precedence
    * (en > de > es > fr > zh); all-zero scores default to "en". */
  def langId(text: Column): Column = {
    val scores = LangProfiles.map { case (l, _) => l -> langHits(text, l) } :+
      ("zh" -> cjkCount(text))
    val m = greatest(scores.map(_._2): _*)
    scores.foldRight(lit("en")) { case ((l, s), acc) => when(s === m && m > 0, lit(l)).otherwise(acc) }
  }

  /** Composite quality score in [0,1]: length saturation + English
    * stopword density + punctuation cleanliness. The weights are a
    * fixed contract (mirrored in the oracle SQL), not a tuned model. */
  def qualityScore(text: Column): Column = {
    val nToks = tokenCount(text)
    val lenScore = least(lit(1.0), nToks.cast("double") / lit(20.0))
    val stopScore = langHits(text, "en").cast("double") / lit(10.0)
    val punctRatio = when(length(text) > 0,
      punctCount(text).cast("double") / length(text).cast("double")).otherwise(lit(0.0))
    round(lit(0.4) * lenScore + lit(0.4) * stopScore + lit(0.2) * (lit(1.0) - punctRatio), 6)
  }

  /** Canonical content fingerprint: md5 of whitespace-normalized
    * lowercase text — the exact-dedup key that survives formatting
    * noise. */
  def contentFingerprint(text: Column): Column =
    md5(regexp_replace(trim(lower(text)), Ws, " "))

  /** Unicode NFC normalization (codegen, ASCII zero-copy fast path) —
    * run it BEFORE tokenizing/hashing or `café` spelled e+U+0301 and
    * precomposed U+00E9 are different dedup keys. See
    * [[graft.expressions.NormalizeNfc]]. */
  def normalizeNfc(text: Column): Column =
    org.apache.spark.sql.graftbridge.ColumnBridge.column(
      graft.expressions.NormalizeNfc(
        org.apache.spark.sql.graftbridge.ColumnBridge.expression(text)))

  /** The Gopher rule stopword list (Rae et al. 2021 §A1.1: a document
    * must contain at least two of these to pass). */
  val GopherStopwords: Seq[String] =
    Seq("the", "be", "to", "of", "and", "that", "have", "with")

  /**
   * Gopher document-level quality counters (Rae et al. 2021 §A1.1 —
   * the published heuristic battery MassiveWeb was filtered with;
   * [[repetitionStats]] covers the same appendix's repetition half).
   * Emits RAW INTEGER counters, not ratios: every §A1.1 threshold is
   * a rational bound, so [[gopherKeep]] applies it by integer
   * cross-multiplication (mean word length ∈ [3, 10] ⟺
   * 3·n ≤ Σlen ≤ 10·n) — no float arithmetic anywhere, so the
   * decision is bit-identical in any engine by construction, and the
   * whole thing is ONE map-only codegen pass (no shuffle at any
   * corpus size).
   *
   * Counters: `n_words`/`sum_wlen` (whitespace tokens, lowercased),
   * `alpha_words` (words containing a letter), `stop_hits` (DISTINCT
   * stopword-list members present), `n_symbols` ('#' plus
   * non-overlapping '...' plus '…' occurrences), `n_lines`/
   * `bullet_lines`/`ellipsis_lines` (non-empty trimmed lines; bullet =
   * first char one of bullet-point, dash, star; ellipsis = ends with
   * '...' or '…').
   */
  def gopherStats(text: Column): Column = {
    val words = filter(split(lower(text), Ws), t => length(t) > 0)
    val lines = filter(transform(split(text, "\n"), l => trim(l)), l => length(l) > 0)
    struct(
      size(words).cast("long").as("n_words"),
      coalesce(aggregate(words, lit(0L), (a, w) => a + length(w)), lit(0L)).as("sum_wlen"),
      size(filter(words, w => w.rlike("[a-z]"))).cast("long").as("alpha_words"),
      size(array_intersect(array_distinct(words),
        array(GopherStopwords.map(lit): _*))).cast("long").as("stop_hits"),
      (regexp_count(text, lit("#")) + regexp_count(text, lit("\\.{3}")) +
        regexp_count(text, lit("…"))).cast("long").as("n_symbols"),
      size(lines).cast("long").as("n_lines"),
      size(filter(lines, l => substring(l, 1, 1).isin("•", "-", "*")))
        .cast("long").as("bullet_lines"),
      size(filter(lines, l => l.endsWith("...") || l.endsWith("…")))
        .cast("long").as("ellipsis_lines"))
  }

  /**
   * The §A1.1 keep decision over [[gopherStats]] counters, in exact
   * integer form: word count in `[minWords, maxWords]`; mean word
   * length in [3, 10]; symbol-to-word ratio < 0.1; < 90% of lines
   * bullet-started; < 30% of lines ellipsis-ended; ≥ 80% of words
   * contain a letter; ≥ `minStopHits` distinct stopwords.
   *
   * Two deliberate deviations from the paper's letter, both pinned by
   * spec so they are contract, not accident: the hash and ellipsis
   * counts POOL into one symbol ratio (the paper evaluates the two
   * ratios separately — pooling is strictly more aggressive: 0.06 +
   * 0.06 drops here, survives there), and every ratio bound is a
   * STRICT inequality (a doc at exactly 0.1 symbols/word or 30%
   * ellipsis lines drops; the boundary had to land somewhere
   * exactly, and strict-on-the-bad-side makes the integer
   * cross-multiplication `10·s < n` with no off-by-one). Word-count
   * bounds and the stopword floor are knobs (the paper's 50/2 assume
   * English web pages — shorter-form or non-English corpora retune or
   * re-list them); the numeric ratio values are the published ones.
   */
  def gopherKeep(st: Column, minWords: Long = 50, maxWords: Long = 100000,
      minStopHits: Long = 2): Column = {
    require(minWords >= 1 && maxWords >= minWords,
      s"need 1 <= minWords <= maxWords, got [$minWords, $maxWords]")
    require(minStopHits >= 0, s"minStopHits must be >= 0, got $minStopHits")
    st.getField("n_words").between(minWords, maxWords) &&
      st.getField("sum_wlen") >= st.getField("n_words") * 3 &&
      st.getField("sum_wlen") <= st.getField("n_words") * 10 &&
      st.getField("n_symbols") * 10 < st.getField("n_words") &&
      st.getField("bullet_lines") * 10 < st.getField("n_lines") * 9 &&
      st.getField("ellipsis_lines") * 10 < st.getField("n_lines") * 3 &&
      st.getField("alpha_words") * 5 >= st.getField("n_words") * 4 &&
      st.getField("stop_hits") >= minStopHits
  }

  /** Redaction patterns shared by the Column API and the oracle SQL —
    * written in the common Java-regex/RE2 subset (no lookaround, no
    * dialect-specific escapes). */
  val RedactionPatterns: Seq[(String, String)] = Seq(
    "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}" -> "<EMAIL>",
    "[0-9]{3}[- .][0-9]{3}[- .][0-9]{4}" -> "<PHONE>",
    "[0-9]+" -> "<NUM>")

  /** Curation-grade redaction: mask emails, phone-shaped numbers, then
    * bare digit runs. Order matters (specific → general) and is fixed. */
  def redact(text: Column): Column =
    RedactionPatterns.foldLeft(text) { case (c, (pat, repl)) =>
      regexp_replace(c, pat, repl)
    }

  /**
   * Deterministic train/val/test assignment from a stable id — the
   * reproducible-split primitive every training pipeline needs. Buckets
   * by the first two hex chars of md5(id) (256 buckets), so the split
   * is stable across engines, runs, partitionings, and row order, and
   * any engine with md5 can reproduce it (the DuckDB oracle does).
   * Fractions are rounded to 1/256ths.
   */
  def splitAssign(id: Column, trainFrac: Double = 0.9, valFrac: Double = 0.05): Column = {
    require(trainFrac > 0 && valFrac >= 0 && trainFrac + valFrac <= 1.0)
    val trainEnd = math.round(trainFrac * 256).toInt
    val valEnd = math.min(256, trainEnd + math.round(valFrac * 256).toInt)
    // compare the 2-char lowercase hex prefix LEXICOGRAPHICALLY against
    // the boundary spelled in hex — equivalent to numeric comparison for
    // fixed-width lowercase hex, and portable to any engine with md5 +
    // string compare (no hex-parse builtin needed)
    val bucket = substring(md5(id.cast("string")), 1, 2)
    def hex2(i: Int) = f"$i%02x"
    if (trainEnd >= 256) lit("train")
    else {
      val afterTrain =
        if (valEnd >= 256) lit("val")
        else when(bucket < lit(hex2(valEnd)), "val").otherwise("test")
      when(bucket < lit(hex2(trainEnd)), "train").otherwise(afterTrain)
    }
  }

  /**
   * LEAK-SAFE train/val/test split (round 18): group-consistent
   * assignment — every member of a duplicate COMPONENT lands in the
   * SAME split, decided by the component representative's hash. The
   * failure mode this exists for is the standard eval-hygiene one
   * (Lee et al. 2022 §6.2 measure it directly: near-duplicates of
   * eval examples in the training split inflate eval scores): a plain
   * per-row [[splitAssign]] scatters the members of a near-dup group
   * independently, so ~2·trainFrac·(1−trainFrac) of every dup PAIR
   * straddles train/eval. Feeding the SAME `pairs` frame the dedup
   * ladder already produces (exact groups, MinHash bands, PPJoin,
   * SimHash, embedding-cosine — any of them) makes the split
   * leak-free BY CONSTRUCTION, and transitively: a~b and b~c force
   * all three together even when a~c was never emitted as a pair
   * ([[Dedup.duplicateComponents]]'s min-label closure, not a
   * per-pair patch).
   *
   * Scale shape: the component table is PAIR-sized (near-dup pairs,
   * not rows), built by the bounded closure (driver union-find under
   * `maxDriverEdges`, spec'd-equal distributed propagation above it);
   * the corpus side pays ONE left join on the id key plus the same
   * md5-bucket arithmetic as [[splitAssign]] — no window over the
   * corpus, nothing collects. Rows in no pair keep their own id as
   * representative, i.e. degrade to exactly [[splitAssign]] (spec'd),
   * so the operator composes as a drop-in replacement.
   */
  def leakSafeSplit(df: org.apache.spark.sql.DataFrame, idCol: String,
      pairs: org.apache.spark.sql.DataFrame, trainFrac: Double = 0.9,
      valFrac: Double = 0.05, splitCol: String = "split",
      maxDriverEdges: Long = 4000000L): org.apache.spark.sql.DataFrame = {
    require(!df.columns.contains(splitCol),
      s"input frame already carries a '$splitCol' column — it would be " +
        "silently replaced; rename it or pass a different splitCol")
    require(!df.columns.contains("__lss_rep"),
      "input frame carries reserved staging column '__lss_rep' — rename it first")
    val comps = Dedup.duplicateComponents(pairs, maxDriverEdges = maxDriverEdges)
      .select(col("id").as(idCol), col("rep").as("__lss_rep"))
    df.join(comps, Seq(idCol), "left")
      .withColumn(splitCol,
        splitAssign(coalesce(col("__lss_rep"), col(idCol)), trainFrac, valFrac))
      .drop("__lss_rep")
  }

  /**
   * GROUP-CONSISTENT deterministic sampling — [[leakSafeSplit]]'s rule
   * applied to the keep/drop decision: a duplicate COMPONENT is kept
   * or dropped WHOLE, decided by its representative's md5 bucket, so a
   * sample can never contain half a near-dup group. The failure mode
   * is subtle and real: a per-row hash sample of a corpus with dup
   * groups keeps each member independently, so any downstream
   * PER-GROUP measurement on the sample (duplication-rate estimates,
   * dedup-yield projections, contamination studies sampling their
   * audit set) sees groups truncated at random — group sizes biased
   * low by exactly the thinning rate. Keeping components atomic makes
   * group-shaped statistics estimable from the sample (the groups
   * that survive arrive INTACT). Rows in no pair degrade to the plain
   * per-row rule (the [[hashSampleBy]] md5-bucket arithmetic on their
   * own id), so the operator composes as a drop-in. Same scale shape
   * as [[leakSafeSplit]]: pair-sized closure, one corpus id join, no
   * window, nothing corpus-scale collects.
   */
  def leakSafeSample(df: org.apache.spark.sql.DataFrame, idCol: String,
      pairs: org.apache.spark.sql.DataFrame, fraction: Double,
      maxDriverEdges: Long = 4000000L): org.apache.spark.sql.DataFrame = {
    require(fraction >= 0.0 && fraction <= 1.0 && !fraction.isNaN,
      s"fraction must be in [0, 1], got $fraction")
    require(!df.columns.contains("__lss_rep"),
      "input frame carries reserved staging column '__lss_rep' — rename it first")
    val comps = Dedup.duplicateComponents(pairs, maxDriverEdges = maxDriverEdges)
      .select(col("id").as(idCol), col("rep").as("__lss_rep"))
    val rep = coalesce(col("__lss_rep"), col(idCol))
    // the hashSampleBy bucket rule on the REPRESENTATIVE id (2-char
    // lowercase hex compare — the engine-portable md5 scheme; the
    // >= 256 / <= 0 guards are hashSampleBy's wrap-around fix)
    val end = math.min(256, math.round(fraction * 256)).toInt
    val keep =
      if (end >= 256) lit(true)
      else if (end <= 0) lit(false)
      else substring(md5(rep.cast("string")), 1, 2) < lit(f"$end%02x")
    df.join(comps, Seq(idCol), "left")
      .where(keep)
      .drop("__lss_rep")
  }

  /**
   * Deterministic hash-based sampling: keep a row iff its md5 bucket
   * (256ths, same scheme as [[splitAssign]]) falls under the stratum's
   * fraction. Unlike `rand()`-based sampling this is stable across
   * runs, partitionings, and engines — the property a reproducible
   * training-data pipeline needs — and the DuckDB oracle replays it.
   * `fractions` maps stratum value → keep fraction; absent strata use
   * `default`.
   */
  def hashSampleBy(id: Column, stratum: Column, fractions: Map[String, Double],
      default: Double = 1.0): Column = {
    val bucket = substring(md5(id.cast("string")), 1, 2)
    def keep(frac: Double): Column = {
      // fractions rounding up to bucket 256 keep everything — the 2-char
      // hex compare can't express ">= '100'" (a naive takeRight(2) would
      // wrap to "00" and silently keep NOTHING for fractions near 1.0)
      val end = math.min(256, math.round(frac * 256)).toInt
      if (end >= 256) lit(true)
      else if (end <= 0) lit(false)
      else bucket < lit(f"$end%02x")
    }
    fractions.foldLeft(keep(default)) { case (acc, (value, frac)) =>
      when(stratum === value, keep(frac)).otherwise(acc)
    }
  }

  /**
   * BUDGETED selection (round 17) — fill a TOKEN budget with the
   * best-scoring documents: the step every pretraining data run ends
   * with ("take the highest-quality ~N billion tokens"), complementing
   * [[dsirSelectTopK]]'s top-k-DOCS rule with the token-denominated
   * budget a training run actually plans in. Semantics are a pure
   * total-order rule: order documents by (score desc, id asc) and keep
   * the maximal prefix whose cumulative `tokensCol` stays ≤ `budget`
   * (inclusive — a doc that lands exactly on the budget keeps).
   *
   * Scale shape — the naive formulation is a GLOBAL ordered cumulative
   * sum, i.e. an unpartitioned window: every row through ONE task.
   * Instead, the classic two-level threshold-find: (1) one pass
   * buckets scores into `numBuckets` uniform value ranges and
   * aggregates per-bucket token sums (map-side combined; ≤ numBuckets
   * rows collect); (2) the driver prefix-scans the bucket sums to find
   * the ONE boundary bucket where the budget crosses — every better
   * bucket keeps wholesale, every worse bucket drops wholesale, by a
   * broadcast-free column predicate; (3) only the boundary bucket
   * (expected corpus/numBuckets rows) pays the ordered cumulative
   * window, guarded by an explicit `maxBoundaryRows` count + refusal
   * (a corpus whose scores barely discriminate — or a single-valued
   * score column — concentrates in one bucket; the refusal names the
   * remedy instead of silently funneling the corpus through one task).
   * Bucket index is a pure function of the score VALUE, so equal
   * scores share a bucket and the bucket order provably refines the
   * (score desc) order — the composition equals the naive rule exactly
   * (spec'd, and the gate row's DuckDB oracle IS the naive window).
   *
   * Refusals: NULL scores (an unscored doc has no rank — filter or
   * score first), NULL token counts (an uncounted doc would silently
   * contribute 0 to the budget — count or filter first), negative
   * token counts (cumulative semantics break), negative budget.
   *
   * DETERMINISM CONTRACT: `scoreCol` and `tokensCol` must be
   * deterministic under re-evaluation — this operator runs several
   * independent actions over `df` (stats, bucket sums, boundary count,
   * the keep/boundary filters), and a column whose lineage contains
   * `rand()` or any other nondeterministic expression can change
   * bucket membership BETWEEN passes, yielding a silently inconsistent
   * selection. Callers with nondeterministic lineage must materialize
   * first (`df.localCheckpoint()` — the cheap single-job pin — or
   * persist to parquet); this operator deliberately does NOT cache the
   * corpus itself, because at the target scale the input does not fit
   * a cache tier and a forced checkpoint would double the I/O for the
   * overwhelmingly common deterministic case.
   */
  def selectTokenBudget(df: org.apache.spark.sql.DataFrame, scoreCol: String,
      idCol: String, tokensCol: String, budget: Long, numBuckets: Int = 1024,
      maxBoundaryRows: Long = 2000000L): org.apache.spark.sql.DataFrame = {
    require(budget >= 0L, s"budget must be >= 0 tokens, got $budget")
    require(numBuckets >= 1 && numBuckets <= (1 << 20),
      s"numBuckets must be in [1, 2^20], got $numBuckets")
    // the staging column is REPLACED on the boundary frame — an input
    // column of the same name would be silently destroyed (the repo's
    // reserved-name refusal convention)
    require(!df.columns.contains("__cum"),
      "input frame carries reserved staging column '__cum' — rename it first")
    val stats = df.agg(
      count(lit(1)).as("n"), count(col(scoreCol)).as("nScore"),
      count(col(tokensCol)).as("nTok"),
      sum(when(isnan(col(scoreCol).cast("double")), 1L).otherwise(0L)).as("nNan"),
      min(col(scoreCol)).cast("double").as("mn"),
      max(col(scoreCol)).cast("double").as("mx"),
      min(col(tokensCol)).cast("long").as("minTok")).head()
    val n = stats.getAs[Long]("n")
    if (n == 0L) return df
    require(stats.getAs[Long]("nScore") == n,
      s"selectTokenBudget found NULL values in '$scoreCol' — an unscored " +
        "document has no rank; filter or score first")
    // a NULL token count would silently sum as 0 (SQL sum skips NULLs),
    // charging the doc nothing against the budget — refuse by name, the
    // same posture as the NULL-score refusal (and this check runs before
    // any read of minTok, so an all-NULL tokensCol refuses here instead
    // of NPE-ing on the null aggregate below)
    require(stats.getAs[Long]("nTok") == n,
      s"selectTokenBudget found NULL values in '$tokensCol' — an uncounted " +
        "document would silently contribute 0 tokens to the budget; count " +
        "or filter first")
    // NaN would bucket to NULL and crash the driver prefix read with a
    // bare NPE — and a NaN has no place in a total order anyway
    require(stats.getAs[Long]("nNan") == 0L,
      s"selectTokenBudget found NaN values in '$scoreCol' — NaN has no rank; " +
        "filter or score first")
    require(stats.getAs[Long]("minTok") >= 0L,
      s"negative token counts in '$tokensCol' break cumulative-budget semantics")
    val (mn, mx) = (stats.getAs[Double]("mn"), stats.getAs[Double]("mx"))
    // bucket 0 = best scores; a single-valued score column puts
    // everything in bucket 0 (the boundary refusal then governs)
    val bucket: Column =
      if (mn == mx) lit(0)
      else least(floor((lit(mx) - col(scoreCol).cast("double")) /
        lit(mx - mn) * numBuckets).cast("int"), lit(numBuckets - 1))
    val perBucket = df.groupBy(bucket.as("__tb"))
      .agg(sum(col(tokensCol).cast("long")).as("__toks"))
      .collect().map(r => (r.getInt(0), r.getLong(1))).sortBy(_._1)
    var running = 0L
    var boundary = -1
    var base = 0L
    perBucket.foreach { case (b, t) =>
      if (boundary < 0) {
        if (running + t > budget) { boundary = b; base = running }
        else running += t
      }
    }
    if (boundary < 0) return df // the whole corpus fits the budget
    val keptWhole = df.where(bucket < lit(boundary))
    val boundaryDf = df.where(bucket === lit(boundary))
    val nBoundary = boundaryDf.count()
    require(nBoundary <= maxBoundaryRows,
      s"budget boundary bucket holds $nBoundary rows (> maxBoundaryRows " +
        s"$maxBoundaryRows) — the scores barely discriminate at this " +
        "granularity, so the ordered boundary scan would funnel through one " +
        "task; raise numBuckets (finer value ranges), raise maxBoundaryRows " +
        "deliberately, or use a more discriminating score")
    // the ONE ordered window, over the boundary bucket only — its
    // single-partition cost is exactly what the count above bounded
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col(scoreCol).desc, col(idCol).asc)
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val keptBoundary = boundaryDf
      .withColumn("__cum", sum(col(tokensCol).cast("long")).over(w) + lit(base))
      .where(col("__cum") <= budget)
      .drop("__cum")
    keptWhole.unionByName(keptBoundary)
  }

  /**
   * Unigram-LM surprisal scoring — the CCNet-style data-quality signal
   * (Wenzek et al. 2020 rank documents by LM perplexity; the unigram
   * variant is its engine-portable core). Each document gets the mean
   * negative log-likelihood per token under the corpus's own unigram
   * distribution with add-one smoothing: p(t) = (c_t + 1)/(N + V).
   * Low scores = stereotyped/common text, high = rare or noisy —
   * filter either tail.
   *
   * Cross-engine determinism is designed in, not hoped for: the
   * per-token surprisal is quantized to INTEGER micro-nats
   * (round(1e6·−ln p)) BEFORE the per-document aggregation, so the
   * sum is exact integer arithmetic — commutative, hence identical
   * under any partitioning, shuffle order, or engine; the only float
   * steps (one division, one ln, one multiply) happen per DISTINCT
   * token where both JVM and DuckDB agree to ≤1 ulp, far inside the
   * micro-nat quantum. The DuckDB oracle replays the identical
   * expressions.
   *
   * Scale shape: explode → count (one shuffle on token, map-side
   * combined) → join tokens to counts → integer-sum groupBy on the
   * doc key. The scoring join SHUFFLES both sides on the token key by
   * default — the 100 TB-safe shape (an open-vocabulary corpus's
   * distinct-token table can outgrow any broadcast budget), and NOT a
   * shape AQE upgrades on its own: the counts side's runtime stats are
   * read at its shuffle, BEFORE the aggregation collapses ~n_tokens
   * map-combined rows to one per distinct token, so the planner never
   * sees how small the model really is (measured at 100M tokens at r9
   * by the removed ScaleProbe `lmscore` mode,
   * `git show e105133:src/main/scala/graft/ScaleProbe.scala`). When
   * the caller KNOWS the vocabulary is bounded — tokenizer-normalized
   * text, code identifiers, any closed token set — pass
   * `broadcastCounts = true`: the token stream then
   * never shuffles at all, and the per-doc partial sums collapse to
   * one row per doc BEFORE the doc shuffle because docs stay
   * co-partitioned through a broadcast join (a token-key shuffle
   * scatters each doc's tokens across every partition, making the
   * doc-sum partials ~n_docs × n_partitions rows). Results are
   * bit-identical either way (integer micro-nat sums commute).
   * Like CCNet itself this is a TWO-pass design — the corpus is
   * tokenized once for the model and once for scoring; persist the
   * exploded projection before calling if the same frame feeds other
   * token-level stages. Docs with zero tokens have no surprisal and
   * are absent from the output (documented, matches the oracle's
   * GROUP BY over unnested tokens).
   */
  def lmScore(df: org.apache.spark.sql.DataFrame, textCol: String, idCol: String,
      outCol: String = "lm_nll",
      broadcastCounts: Boolean = false): org.apache.spark.sql.DataFrame = {
    val toks = df.select(col(idCol),
      explode(filter(split(lower(col(textCol)), Ws), t => length(t) > 0)).as("__tok"))
    val counts = toks.groupBy("__tok").agg(count(lit(1)).as("__c"))
    val totals = counts.agg(sum("__c").as("__n_total"), count(lit(1)).as("__vocab"))
    toks.join(if (broadcastCounts) broadcast(counts) else counts, "__tok")
      .crossJoin(broadcast(totals))
      .withColumn("__nll_micro",
        round(lit(-1e6) * log((col("__c") + 1).cast("double") /
          (col("__n_total") + col("__vocab")).cast("double"))).cast("long"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_toks"),
        round(sum("__nll_micro").cast("double") / (lit(1e6) * count(lit(1))), 6).as(outCol))
  }

  /**
   * A FROZEN unigram LM — the persistable counts-frame artifact that
   * turns [[lmScore]]'s self-fit scoring into CCNet's deployed shape:
   * fit the model ONCE on a reference corpus ([[fitUnigramLm]]),
   * persist it ([[saveUnigramLm]]/[[loadUnigramLm]], the
   * `MinhashIndex` convention), and score every new shard against it
   * ([[lmScoreAgainst]]) — so two shards score comparably, and a
   * stream can score per batch without the per-batch refit that would
   * change the model under it. `counts` is the (token, count) frame;
   * `nTotal`/`vocab` are its totals, collected once at fit (two
   * longs — not corpus-scale data).
   */
  case class UnigramLm private[operators] (
      counts: org.apache.spark.sql.DataFrame, nTotal: Long, vocab: Long)

  /** Fit a [[UnigramLm]] on a reference corpus: one explode + one
    * map-side-combined token shuffle (the same model pass [[lmScore]]
    * runs), plus a two-long totals aggregate. The counts frame is
    * localCheckpoint-MATERIALIZED at fit: a model is fit once and
    * scored against many times, and without the cut every scoring
    * join would re-execute the reference corpus's tokenize+aggregate
    * lineage (per use — per micro-batch in a stream). */
  def fitUnigramLm(df: org.apache.spark.sql.DataFrame, textCol: String): UnigramLm = {
    val counts = df
      .select(explode(filter(split(lower(col(textCol)), Ws), t => length(t) > 0)).as("__tok"))
      .groupBy("__tok").agg(count(lit(1)).as("__c"))
      .localCheckpoint(true)
    val t = counts.agg(sum("__c"), count(lit(1))).head()
    UnigramLm(counts, if (t.isNullAt(0)) 0L else t.getLong(0), t.getLong(1))
  }

  /** Persist a [[UnigramLm]]: the counts frame as parquet plus a
    * one-row totals table (pure data — reloadable by any engine). */
  def saveUnigramLm(model: UnigramLm, path: String): Unit = {
    val spark = model.counts.sparkSession
    import spark.implicits._
    model.counts.write.mode("overwrite").parquet(s"$path/counts")
    Seq((model.nTotal, model.vocab)).toDF("__n_total", "__vocab")
      .write.mode("overwrite").parquet(s"$path/totals")
  }

  def loadUnigramLm(spark: org.apache.spark.sql.SparkSession, path: String): UnigramLm = {
    // by NAME, not ordinal: a reloadable-by-any-engine artifact may
    // come back column-reordered (mergeSchema, a rewrite) — an ordinal
    // read would silently swap N and V into wrong probabilities
    val t = spark.read.parquet(s"$path/totals").head()
    UnigramLm(spark.read.parquet(s"$path/counts"),
      t.getAs[Long]("__n_total"), t.getAs[Long]("__vocab"))
  }

  /**
   * A FROZEN BPE merge table (Sennrich et al. 2016) — the subword
   * tokenizer as a persistable artifact, completing the
   * [[UnigramLm]] convention for the tokenization step itself: fit
   * the merges ONCE on a reference corpus ([[fitBpe]]), persist them
   * ([[saveBpe]]/[[loadBpe]]), and tokenize every shard against the
   * SAME table ([[tokenizeBpe]]) — because BPE application is
   * rank-order-sensitive, two shards tokenized under different fits
   * count different tokens for identical text, which would corrupt
   * any token-denominated budget ([[packShards]]) or per-token score.
   * `merges` is rank-ordered: merges(0) is applied with highest
   * priority.
   */
  case class BpeModel private[operators] (merges: Seq[String]) {
    def numMerges: Int = merges.size
  }

  /**
   * Learn a [[BpeModel]]: ONE distributed word-count pass (explode +
   * map-side-combined groupBy — the [[fitUnigramLm]] shape), then the
   * paper's greedy pair-merge loop driver-side over the top
   * `maxWords` (count-desc, word-asc — a deterministic, bounded
   * sample, the [[PqIndex.fit]] convention: tokenizer vocabularies
   * are always fit on bounded word lists, and the tail it drops is
   * exactly the tail BPE exists to decompose). Each iteration merges
   * the globally most frequent adjacent pair; ties break
   * lexicographically so the fit is a pure function of the word-count
   * multiset — partitioning- and thread-count-independent.
   * Iteration stops early when no pair reaches `minPairCount`
   * (a pair seen once doesn't generalize).
   *
   * Cost: the driver loop is O(numMerges × Σ word lengths) string
   * ops over ≤ `maxWords` words — bounded and corpus-size-free; the
   * corpus is touched exactly once, distributed.
   */
  def fitBpe(df: org.apache.spark.sql.DataFrame, textCol: String,
      numMerges: Int = 512, maxWords: Int = 32768,
      minPairCount: Long = 2L): BpeModel = {
    require(numMerges >= 0 && numMerges <= 65536,
      s"numMerges must be in [0, 65536], got $numMerges")
    require(maxWords >= 1 && maxWords <= (1 << 20),
      s"maxWords must be in [1, ${1 << 20}] (the word list is collected), got $maxWords")
    val wc = df
      .select(explode(filter(split(lower(col(textCol)), Ws), t => length(t) > 0)).as("__w"))
      .groupBy("__w").agg(count(lit(1)).as("__c"))
      .orderBy(desc("__c"), asc("__w")).limit(maxWords)
      .collect().map(r => (r.getString(0), r.getLong(1)))
    val words: Array[Array[String]] =
      wc.map { case (w, _) => graft.expressions.BpeTokens.initialSymbols(w) }
    val counts: Array[Long] = wc.map(_._2)
    val merges = scala.collection.mutable.ArrayBuffer.empty[String]
    var iter = 0
    var exhausted = words.isEmpty
    while (iter < numMerges && !exhausted) {
      val pc = new java.util.HashMap[String, java.lang.Long]()
      var wi = 0
      while (wi < words.length) {
        val syms = words(wi); val c = counts(wi)
        var i = 0
        while (i < syms.length - 1) {
          val key = syms(i) + " " + syms(i + 1)
          val prev = pc.get(key)
          pc.put(key, if (prev == null) c else prev.longValue() + c)
          i += 1
        }
        wi += 1
      }
      // deterministic selection: count desc, then pair lexicographic
      // asc — hash iteration order cannot leak into the result
      var bestPair: String = null
      var bestC = minPairCount - 1
      val it = pc.entrySet().iterator()
      while (it.hasNext) {
        val e = it.next()
        val c = e.getValue.longValue()
        if (c > bestC || (c == bestC && bestPair != null && e.getKey.compareTo(bestPair) < 0)) {
          bestC = c; bestPair = e.getKey
        }
      }
      if (bestPair == null) exhausted = true
      else {
        merges += bestPair
        val sp = bestPair.indexOf(' ')
        val l = bestPair.substring(0, sp); val r = bestPair.substring(sp + 1)
        wi = 0
        while (wi < words.length) {
          words(wi) = graft.expressions.BpeTokens.mergePair(words(wi), l, r)
          wi += 1
        }
      }
      iter += 1
    }
    BpeModel(merges.toSeq)
  }

  /** Persist a [[BpeModel]] as rank-ordered plain parquet — pure
    * data, reloadable by any engine (the [[saveUnigramLm]] layout). */
  def saveBpe(model: BpeModel, path: String): Unit = {
    val spark = org.apache.spark.sql.SparkSession.active
    import spark.implicits._
    model.merges.zipWithIndex.map { case (p, r) => (r, p) }
      .toDF("rank", "pair")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/merges")
  }

  /** Reopen a saved model — reads BY NAME and re-sorts by rank (the
    * [[loadUnigramLm]] rationale: rank order IS the model; a
    * column- or row-reordered rewrite must not silently change which
    * merges win). */
  def loadBpe(spark: org.apache.spark.sql.SparkSession, path: String): BpeModel =
    BpeModel(spark.read.parquet(s"$path/merges")
      .collect().map(r => (r.getAs[Int]("rank"), r.getAs[String]("pair")))
      .sortBy(_._1).map(_._2).toSeq)

  /** Subword token array under a frozen model — one codegen pass
    * ([[graft.expressions.BpeTokens]]). */
  def bpeTokens(text: Column, model: BpeModel): Column =
    org.apache.spark.sql.graftbridge.ColumnBridge.column(
      graft.expressions.BpeTokens(
        org.apache.spark.sql.graftbridge.ColumnBridge.expression(text), model.merges))

  /** Subword token COUNT under a frozen model — the drop-in
    * replacement for [[tokenCount]] wherever a budget should be
    * denominated in subword tokens ([[packShards]]' `tokenCol`). */
  def bpeTokenCount(text: Column, model: BpeModel): Column =
    size(bpeTokens(text, model)).cast("long")

  /** Tokenize a frame: adds `outCol: array<string>` (refuses an
    * existing column — the family convention). */
  def tokenizeBpe(df: org.apache.spark.sql.DataFrame, textCol: String,
      model: BpeModel, outCol: String = "bpe_tokens"): org.apache.spark.sql.DataFrame = {
    require(!df.columns.contains(outCol),
      s"output column '$outCol' already exists on the input frame")
    df.withColumn(outCol, bpeTokens(col(textCol), model))
  }

  /**
   * Score a corpus against a FROZEN [[UnigramLm]] — [[lmScore]]'s
   * `Across` variant, completing the family convention (dedup,
   * decontamination, and paragraph dedup all score new data against a
   * fixed artifact). Semantics pin down to one convention choice:
   * add-one smoothing with the MODEL's denominator — p(t) =
   * (c_t + 1)/(N + V) where c_t is the model count (0 for OOV — the
   * same formula, no special case) and N, V are the model corpus's
   * token total and vocabulary size, NOT the scored shard's. The
   * scored shard contributes nothing to the distribution, so when the
   * model corpus IS the scored corpus this reproduces [[lmScore]]
   * bit-for-bit (spec'd), and an OOV-only document scores exactly
   * ln(N + V) per token (quantized to micro-nats like everything
   * else).
   *
   * Scale shape: the scoring join is a LEFT join of the token stream
   * against the counts frame — shuffle-both-sides by default (open
   * vocabulary, same argument as [[lmScore]]), `broadcastCounts` when
   * the model's vocabulary is known bounded; either way the model is
   * fit ZERO times per shard. Docs with zero tokens are absent from
   * the output, as in [[lmScore]].
   */
  def lmScoreAgainst(df: org.apache.spark.sql.DataFrame, model: UnigramLm,
      textCol: String, idCol: String, outCol: String = "lm_nll",
      broadcastCounts: Boolean = false): org.apache.spark.sql.DataFrame = {
    require(model.vocab > 0,
      "lmScoreAgainst needs a non-empty model (vocab = 0: the reference corpus " +
        "had no tokens, so p(t) is undefined for every token)")
    val toks = df.select(col(idCol),
      explode(filter(split(lower(col(textCol)), Ws), t => length(t) > 0)).as("__tok"))
    val denom = (model.nTotal + model.vocab).toDouble
    toks.join(if (broadcastCounts) broadcast(model.counts) else model.counts,
        Seq("__tok"), "left")
      .withColumn("__nll_micro",
        round(lit(-1e6) * log((coalesce(col("__c"), lit(0L)) + 1).cast("double") /
          lit(denom))).cast("long"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_toks"),
        round(sum("__nll_micro").cast("double") / (lit(1e6) * count(lit(1))), 6).as(outCol))
  }

  /**
   * A FROZEN interpolated BIGRAM LM — one modeling step from
   * [[UnigramLm]] toward CCNet's 5-gram KenLM (Wenzek et al. 2020 use
   * a Kneser-Ney 5-gram; the interpolation-with-lower-order idea is
   * the same, at n = 2 with Jelinek-Mercer weights so every
   * probability is a closed-form rational of integer counts and the
   * DuckDB oracle can replay the arithmetic bit-for-bit — KN's
   * discounting would add nothing verifiable here). `uni` carries the
   * token counts and totals; `bigrams` is the (`__prev`, `__tok`,
   * `__c2`) count frame. Context totals Σ_t c(prev, t) are derived
   * from `bigrams` at scoring time (one vocab-sized aggregate — NOT
   * stored, so the two frames can never disagree).
   */
  case class BigramLm private[operators] (
      uni: UnigramLm, bigrams: org.apache.spark.sql.DataFrame)

  /** Fit a [[BigramLm]]: the [[fitUnigramLm]] pass plus ONE more
    * explode — within-document adjacent pairs built in ARRAY land
    * (`arrays_zip` of the two shifted slices: no self-join on
    * position, no window) — and one map-side-combined pair shuffle.
    * Both count frames localCheckpoint-materialize at fit
    * ([[fitUnigramLm]]'s rationale, doubled: scoring consumes each in
    * its own join, so un-cut lineage would re-tokenize the reference
    * corpus several times per scoring call). */
  def fitBigramLm(df: org.apache.spark.sql.DataFrame, textCol: String): BigramLm = {
    val base = df.select(
      filter(split(lower(col(textCol)), Ws), t => length(t) > 0).as("__l"))
    val uniCounts = base.select(explode(col("__l")).as("__tok"))
      .groupBy("__tok").agg(count(lit(1)).as("__c"))
      .localCheckpoint(true)
    val t = uniCounts.agg(sum("__c"), count(lit(1))).head()
    val bigrams = pairFrame(base).groupBy("__prev", "__tok")
      .agg(count(lit(1)).as("__c2"))
      .localCheckpoint(true)
    BigramLm(UnigramLm(uniCounts,
      if (t.isNullAt(0)) 0L else t.getLong(0), t.getLong(1)), bigrams)
  }

  /** (id?, `__l` array) → exploded (`__prev`, `__tok`) adjacent pairs,
    * keeping any other columns. A doc with k tokens emits k−1 pairs;
    * k ≤ 1 emits none (empty zip). */
  private def pairFrame(base: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val n = greatest(size(col("__l")) - 1, lit(0))
    base.withColumn("__p",
        explode(arrays_zip(slice(col("__l"), lit(1), n), slice(col("__l"), lit(2), n))))
      .select(base.columns.filter(_ != "__l").map(col) :+
        col("__p").getField("0").as("__prev") :+
        col("__p").getField("1").as("__tok"): _*)
  }

  /** Persist a [[BigramLm]]: [[saveUnigramLm]]'s layout plus the
    * bigram counts frame — pure parquet data, any engine reloads it. */
  def saveBigramLm(model: BigramLm, path: String): Unit = {
    saveUnigramLm(model.uni, path)
    model.bigrams.write.mode("overwrite").parquet(s"$path/bigrams")
  }

  def loadBigramLm(spark: org.apache.spark.sql.SparkSession, path: String): BigramLm =
    BigramLm(loadUnigramLm(spark, path), spark.read.parquet(s"$path/bigrams"))

  /**
   * Score a corpus against a FROZEN [[BigramLm]] with Jelinek-Mercer
   * interpolation: token t after context p scores
   * p(t|p) = λ·c(p,t)/Σ_u c(p,u) + (1−λ)·(c(t)+1)/(N+V) — the ML
   * bigram backed off onto the add-one unigram, so the probability is
   * strictly positive for ANY (p, t), including OOV tokens and
   * contexts the model never saw (their bigram term is exactly 0 and
   * the unigram floor carries the score). The FIRST token of a
   * document has no context and scores under the pure add-one unigram
   * — exactly [[lmScoreAgainst]]'s per-token formula — so a one-token
   * document scores identically under both models (spec'd). Per-token
   * surprisal is quantized to integer micro-nats BEFORE the per-doc
   * sum, same as the whole family: the aggregation is exact
   * commutative arithmetic, partition-order-free, and DuckDB replays
   * it (every float step is a correctly-rounded IEEE op on integer
   * counts in an identical expression tree, then one `ln` whose ≤1-ulp
   * divergence sits far inside the micro-nat quantum).
   *
   * This is what unigram surprisal cannot see: two documents with the
   * SAME token multiset — one fluent repetition, one shuffled word
   * soup — score identically under [[lmScoreAgainst]] but the soup's
   * unseen transitions pay the λ-discounted unigram floor here
   * (spec'd on exactly that fixture pair).
   *
   * Scale shape: pairs are built in array land (one explode, no
   * self-join, no window), then TWO left scoring joins over the
   * corpus-sized pair stream — (prev, tok) against the
   * context-annotated bigram frame, tok against the unigram counts —
   * shuffle joins by default (open vocabulary), `broadcastCounts`
   * when the model is known bounded. The context totals Σ_u c(p, u)
   * pre-join INTO the bigram frame model-side (a model-sized join,
   * not a corpus-sized one): an unseen pair's bigram term is
   * identically 0 whatever its context total, so only seen pairs
   * need cx and it rides their row — value-identical to a separate
   * context join, one corpus shuffle cheaper. The pair stream is the
   * corpus's token stream minus one row per doc, and the model is
   * fit ZERO times per shard. The bigram frame is model data
   * (distinct observed pairs — Zipf-bounded far under vocab²), not
   * corpus-scale data.
   */
  def lmScoreBigramAgainst(df: org.apache.spark.sql.DataFrame, model: BigramLm,
      textCol: String, idCol: String, outCol: String = "lm_nll",
      lambda: Double = 0.75,
      broadcastCounts: Boolean = false): org.apache.spark.sql.DataFrame = {
    require(model.uni.vocab > 0,
      "lmScoreBigramAgainst needs a non-empty model (vocab = 0: the reference " +
        "corpus had no tokens, so p(t) is undefined for every token)")
    require(lambda > 0.0 && lambda < 1.0,
      s"lambda must be in (0, 1) — at 1.0 an unseen transition would score " +
        s"ln(0), at 0.0 the bigram counts are dead weight; got $lambda")
    val denom = (model.uni.nTotal + model.uni.vocab).toDouble
    val side = (f: org.apache.spark.sql.DataFrame) =>
      if (broadcastCounts) broadcast(f) else f
    val ctx = model.bigrams.groupBy("__prev").agg(sum("__c2").as("__cx"))
    val base = df.select(col(idCol),
      filter(split(lower(col(textCol)), Ws), t => length(t) > 0).as("__l"))
    val uniNll = round(lit(-1e6) *
      log((coalesce(col("__c"), lit(0L)) + 1).cast("double") / lit(denom)))
      .cast("long")
    val firsts = base.where(size(col("__l")) >= 1)
      .select(col(idCol), element_at(col("__l"), 1).as("__tok"))
      .join(side(model.uni.counts), Seq("__tok"), "left")
      .select(col(idCol), uniNll.as("__nll_micro"))
    val pairs = pairFrame(base)
      .join(side(model.bigrams.join(ctx, "__prev")), Seq("__prev", "__tok"), "left")
      .join(side(model.uni.counts), Seq("__tok"), "left")
      .select(col(idCol), round(lit(-1e6) * log(
        lit(lambda) * when(col("__c2").isNull, lit(0.0))
          .otherwise(col("__c2").cast("double") / col("__cx")) +
        lit(1.0 - lambda) *
          ((coalesce(col("__c"), lit(0L)) + 1).cast("double") / lit(denom))))
        .cast("long").as("__nll_micro"))
    firsts.unionByName(pairs)
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_toks"),
        round(sum("__nll_micro").cast("double") / (lit(1e6) * count(lit(1))), 6).as(outCol))
  }

  /**
   * A FROZEN DSIR importance model (Xie et al. 2023, "Data Selection
   * for Language Models via Importance Resampling") — the published
   * data-SELECTION rung the quality ladder was missing: given a small
   * TARGET corpus (the distribution you want more of) and the RAW
   * pool, estimate per-document importance log-weights
   * log(p_target(doc)/p_raw(doc)) under hashed n-gram feature
   * distributions, then resample the pool by those weights. Features
   * are the paper's: unigrams ∪ adjacent bigrams (space-joined,
   * lowercase, the pinned [[Ws]] tokenizer), hashed into `numBuckets`
   * buckets (paper default 10k) — `numBuckets = 0` is the EXACT
   * degenerate where the feature string itself is the key (a perfect
   * hash: what the bucketing approximates), fully replayable in SQL
   * and therefore the oracled gate shape ([[dsirScoreSql]]).
   *
   * Arithmetic (both engines replay it bit-for-bit): per feature key
   * b, `lr_micro(b) = round(1e6·(ln((ct_b+1)/(Nt+B)) −
   * ln((cr_b+1)/(Nr+B))))` as a long — add-one smoothed bucket
   * probabilities under each corpus, the [[lmScore]] micro-nat
   * quantization; a scored doc sums `lr_micro` over its feature
   * OCCURRENCES (multiplicity counts, per the paper's product of
   * feature probabilities) with keys unseen at fit taking the same
   * formula at ct = cr = 0 (`zeroLrMicro`). `ratios` is the
   * bucket-keyed frame (`__b` long, or `__feat` string when exact);
   * Nt/Nr are feature-occurrence totals, B the bucket count (exact:
   * the distinct-feature count of target ∪ raw).
   *
   * Scale shape: fit is two map-combined feature shuffles over
   * corpora that never co-shuffle; the artifact is `numBuckets` rows
   * (10k ⇒ ~160 KB — always broadcastable), so SCORING is one
   * broadcast join + a map-side-combined per-doc sum: no
   * corpus-vs-corpus join anywhere, and a stream scores every batch
   * against the frozen artifact with zero per-batch model work.
   */
  case class DsirModel private[operators] (
      ratios: org.apache.spark.sql.DataFrame, numBuckets: Int,
      bEff: Long, nTarget: Long, nRaw: Long, zeroLrMicro: Long) {
    /** exact (feature-string-keyed) degenerate? */
    def exact: Boolean = numBuckets == 0
  }

  /** (id?, `__feat`) feature-occurrence stream: unigrams ∪ adjacent
    * bigrams (space-joined) — the DSIR feature extractor, shared by
    * fit and scoring so the two can never tokenize apart. */
  private def dsirFeatFrame(df: org.apache.spark.sql.DataFrame,
      textCol: String, idCols: Seq[String]): org.apache.spark.sql.DataFrame = {
    val base = df.select(idCols.map(col) :+
      filter(split(lower(col(textCol)), Ws), t => length(t) > 0).as("__l"): _*)
    val unis = base.select(idCols.map(col) :+ explode(col("__l")).as("__feat"): _*)
    val bis = pairFrame(base).select(idCols.map(col) :+
      concat(col("__prev"), lit(" "), col("__tok")).as("__feat"): _*)
    unis.unionByName(bis)
  }

  /** Fit a [[DsirModel]]: one feature count per corpus (map-combined),
    * a full-outer merge of the two B-bounded count frames, and the
    * smoothed log-ratio column. The ratios frame localCheckpoint-
    * materializes at fit (the [[fitUnigramLm]] rationale — fit once,
    * score many). Refuses an empty target or raw corpus: with zero
    * feature occurrences the importance ratio is undefined everywhere. */
  def fitDsir(target: org.apache.spark.sql.DataFrame,
      raw: org.apache.spark.sql.DataFrame, textCol: String,
      numBuckets: Int = 10000): DsirModel = {
    require(numBuckets >= 0,
      s"numBuckets must be >= 0 (0 = exact feature-keyed degenerate), got $numBuckets")
    def keyed(df: org.apache.spark.sql.DataFrame) = {
      val f = dsirFeatFrame(df, textCol, Nil)
      if (numBuckets == 0) f.select(col("__feat"))
      else f.select(pmod(xxhash64(col("__feat")), lit(numBuckets.toLong)).as("__b"))
    }
    val key = if (numBuckets == 0) "__feat" else "__b"
    val tc = keyed(target).groupBy(key).agg(count(lit(1)).as("__ct"))
    val rc = keyed(raw).groupBy(key).agg(count(lit(1)).as("__cr"))
    val merged = tc.join(rc, Seq(key), "full_outer")
      .select(col(key), coalesce(col("__ct"), lit(0L)).as("__ct"),
        coalesce(col("__cr"), lit(0L)).as("__cr"))
      .localCheckpoint(true)
    val t = merged.agg(sum("__ct"), sum("__cr"), count(lit(1))).head()
    val nT = if (t.isNullAt(0)) 0L else t.getLong(0)
    val nR = if (t.isNullAt(1)) 0L else t.getLong(1)
    require(nT > 0, "fitDsir needs a non-empty TARGET corpus (0 feature occurrences)")
    require(nR > 0, "fitDsir needs a non-empty RAW corpus (0 feature occurrences)")
    val b = if (numBuckets == 0) t.getLong(2) else numBuckets.toLong
    // the same ((c+1)*1.0/(N+B)) shape on both engines — division
    // before ln, one rounding of the DIFFERENCE (HALF_UP == DuckDB's
    // half-away-from-zero on signed values)
    val ratios = merged.select(col(key),
        round(lit(1e6) * (log((col("__ct") + 1).cast("double") / lit((nT + b).toDouble))
          - log((col("__cr") + 1).cast("double") / lit((nR + b).toDouble))))
          .cast("long").as("__lr_micro"))
      .localCheckpoint(true)
    // HALF_UP (= half-away-from-zero, what Spark's round and DuckDB's
    // round both do on SIGNED values), NOT math.round (floor(x+0.5),
    // which pulls negative halves toward +∞ — zeroLr is negative
    // whenever the target corpus outweighs the raw pool)
    val zero = BigDecimal(1e6 * (math.log(1.0 / (nT + b).toDouble)
        - math.log(1.0 / (nR + b).toDouble)))
      .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
    DsirModel(ratios, numBuckets, b, nT, nR, zero)
  }

  /** Per-document DSIR importance log-weight against a FROZEN model:
    * `dsir_logw = round(Σ lr_micro / 1e6, 6)` over the doc's feature
    * occurrences plus `n_feats`. Docs with zero tokens are absent
    * (no features — the [[lmScore]] GROUP BY convention). The ratios
    * frame broadcasts by default (B-bounded); pass
    * `broadcastRatios = false` only for an exact model over a vocab
    * too large to broadcast. */
  def dsirScoreAgainst(df: org.apache.spark.sql.DataFrame, model: DsirModel,
      textCol: String, idCol: String, outCol: String = "dsir_logw",
      broadcastRatios: Boolean = true): org.apache.spark.sql.DataFrame = {
    requireNoReserved(df, Seq("__feat", "__b", "__l", "__lr_micro"), "dsirScoreAgainst")
    val feats = dsirFeatFrame(df, textCol, Seq(idCol))
    val keyedF =
      if (model.exact) feats
      else feats.select(col(idCol),
        pmod(xxhash64(col("__feat")), lit(model.numBuckets.toLong)).as("__b"))
    val key = if (model.exact) "__feat" else "__b"
    keyedF.join(
        if (broadcastRatios) broadcast(model.ratios) else model.ratios,
        Seq(key), "left")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_feats"),
        round(sum(coalesce(col("__lr_micro"), lit(model.zeroLrMicro)))
          .cast("double") / 1e6, 6).as(outCol))
  }

  /** What the DSIR bucketing COSTS, as one telemetry row (r15 VERDICT
    * #6) — the numbers a 100 TB user sizes `numBuckets` from instead
    * of guessing: occupancy (`buckets_hit` of `num_buckets`; distinct
    * features per bucket), and fidelity against the exact
    * feature-keyed model on the same corpora — `sign_flips` counts
    * sampled features whose bucketed log-ratio points the WRONG WAY
    * (exact says target-like, the bucket says raw-like, or vice
    * versa — from collisions AND from the smoothing-mass mismatch:
    * the hashed model adds `numBuckets` pseudo-counts where the exact
    * model adds its vocab size, which alone flips rare features when
    * the pools are imbalanced; DsirSpec pins both regimes, including
    * the balanced-pool closed form where B cancels and a
    * collision-free bucketing is EXACT), `flip_mass_frac`
    * weights them by occurrence mass (a flipped hapax is noise; a
    * flipped stopword poisons every document), `mean_abs_gap` is the
    * average |exact − bucketed| ratio distortion in nats.
    *
    * `sampleMod` hash-samples the feature space 1-in-`sampleMod` for
    * the exact-side comparison (seeded `xxhash64(7, feat)` — SALTED,
    * deliberately a different stream than the bucket hash, so the
    * sample is uncorrelated with bucket assignment; the
    * [[dsirResample]] never-`rand()` discipline). The bucket-side
    * numbers (`buckets_hit`, totals) are always full-corpus. Scale
    * shape: one map-combined count pass per corpus over the (sampled)
    * feature stream + one exact distinct count for the B the exact
    * model would need anyway; the model's ratios join BROADCAST
    * (B-bounded); everything else is one-row cross joins — no
    * corpus-keyed shuffle beyond the count passes.
    *
    * Columns: (num_buckets, buckets_hit, distinct_feats,
    * feats_per_bucket, sampled_feats, sign_flips, sign_flip_frac,
    * flip_mass_frac, mean_abs_gap). */
  def dsirBucketStats(model: DsirModel,
      target: org.apache.spark.sql.DataFrame,
      raw: org.apache.spark.sql.DataFrame, textCol: String,
      sampleMod: Int = 1): org.apache.spark.sql.DataFrame = {
    require(!model.exact,
      "dsirBucketStats measures a HASHED model's bucketing cost — an exact " +
        "(numBuckets = 0) model has nothing to measure")
    require(sampleMod >= 1, s"sampleMod must be >= 1 (1 = every feature), got $sampleMod")
    val tf = dsirFeatFrame(target, textCol, Nil).select("__feat")
    val rf = dsirFeatFrame(raw, textCol, Nil).select("__feat")
    def sampled(f: org.apache.spark.sql.DataFrame) =
      if (sampleMod == 1) f
      else f.where(pmod(xxhash64(lit(7L), col("__feat")), lit(sampleMod.toLong)) === 0)
    // exact per-feature counts over the sampled feature space; the
    // smoothing constants (nT, nR) are the model's FULL-corpus totals
    // and B the full distinct-feature count — the ratios the exact
    // model would actually publish, evaluated on the sample
    val tc = sampled(tf).groupBy("__feat").agg(count(lit(1)).as("__ct"))
    val rc = sampled(rf).groupBy("__feat").agg(count(lit(1)).as("__cr"))
    val merged = tc.join(rc, Seq("__feat"), "full_outer")
      .select(col("__feat"), coalesce(col("__ct"), lit(0L)).as("__ct"),
        coalesce(col("__cr"), lit(0L)).as("__cr"))
    val bx = tf.unionByName(rf).distinct()
      .agg(count(lit(1)).as("__bx"))
    val hit = model.ratios.agg(count(lit(1)).as("__hit"))
    val (nT, nR) = (model.nTarget, model.nRaw)
    val compared = merged.crossJoin(bx)
      .select(col("__feat"), col("__ct"), col("__cr"),
        round(lit(1e6) * (log((col("__ct") + 1).cast("double") /
            (col("__bx") + lit(nT)).cast("double"))
          - log((col("__cr") + 1).cast("double") /
            (col("__bx") + lit(nR)).cast("double"))))
          .cast("long").as("__exact_lrm"))
      .withColumn("__b", pmod(xxhash64(col("__feat")), lit(model.numBuckets.toLong)))
      .join(broadcast(model.ratios), Seq("__b"), "left")
      .select(col("__ct"), col("__cr"), col("__exact_lrm"),
        coalesce(col("__lr_micro"), lit(model.zeroLrMicro)).as("__bucket_lrm"))
    val flip = (col("__exact_lrm") > 0 && col("__bucket_lrm") < 0) ||
      (col("__exact_lrm") < 0 && col("__bucket_lrm") > 0)
    compared
      .agg(count(lit(1)).as("sampled_feats"),
        sum(when(flip, 1L).otherwise(0L)).as("sign_flips"),
        round(sum(when(flip, col("__ct") + col("__cr")).otherwise(0L))
          .cast("double") / sum(col("__ct") + col("__cr")), 6).as("flip_mass_frac"),
        round(avg(abs(col("__exact_lrm") - col("__bucket_lrm"))) / lit(1e6), 6)
          .as("mean_abs_gap"))
      .withColumn("sign_flip_frac",
        round(col("sign_flips").cast("double") / col("sampled_feats"), 6))
      .crossJoin(bx).crossJoin(hit)
      .select(lit(model.numBuckets).as("num_buckets"),
        col("__hit").as("buckets_hit"),
        col("__bx").as("distinct_feats"),
        round(col("__bx").cast("double") / col("__hit"), 2).as("feats_per_bucket"),
        col("sampled_feats"), col("sign_flips"), col("sign_flip_frac"),
        col("flip_mass_frac"), col("mean_abs_gap"))
  }

  /** Persist a [[DsirModel]] (ratios parquet + one-row meta — the
    * [[saveUnigramLm]] convention: pure data, reloadable anywhere). */
  def saveDsir(model: DsirModel, path: String): Unit = {
    val spark = model.ratios.sparkSession
    import spark.implicits._
    model.ratios.write.mode("overwrite").parquet(s"$path/ratios")
    Seq((model.numBuckets, model.bEff, model.nTarget, model.nRaw, model.zeroLrMicro))
      .toDF("__num_buckets", "__b_eff", "__n_target", "__n_raw", "__zero_lr_micro")
      .write.mode("overwrite").parquet(s"$path/meta")
  }

  def loadDsir(spark: org.apache.spark.sql.SparkSession, path: String): DsirModel = {
    val m = spark.read.parquet(s"$path/meta").head()
    DsirModel(spark.read.parquet(s"$path/ratios"),
      m.getAs[Int]("__num_buckets"), m.getAs[Long]("__b_eff"),
      m.getAs[Long]("__n_target"), m.getAs[Long]("__n_raw"),
      m.getAs[Long]("__zero_lr_micro"))
  }

  /** DSIR's resampling step: draw `k` documents WITHOUT replacement
    * with probability ∝ exp(scoreCol / temperature) — the Gumbel-top-k
    * identity (add independent Gumbel(0,1) noise to each log-weight,
    * keep the k largest: exactly softmax sampling without
    * replacement), which distributes as a map-side key + one global
    * top-k instead of any sequential draw. Noise is the
    * [[splitAssign]] kind of determinism — seeded `xxhash64(seed, id)`
    * folded to (0,1), never `rand()` — so a fixed (corpus, seed,
    * temperature) resamples identically across runs, partitionings,
    * and engines. Ties (impossible in practice) break by id.
    *
    * `temperature` scales the softmax: the key is
    * scoreCol − temperature·ln(−ln u), order-equivalent to
    * scoreCol/τ + Gumbel for τ > 0 (positive scaling preserves order)
    * and CONTINUOUS at τ = 0, where the noise term vanishes and the
    * draw provably equals [[dsirSelectTopK]]'s deterministic greedy
    * (score desc, id) — the degenerate the `dsir_resample_topk_exact`
    * gate row anchors on (r17 VERDICT #4); τ = 1 (default) is DSIR's
    * published draw. */
  def dsirResample(scored: org.apache.spark.sql.DataFrame, k: Int,
      scoreCol: String = "dsir_logw", idCol: String = "doc_id",
      seed: Long = 42L, temperature: Double = 1.0): org.apache.spark.sql.DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    require(temperature >= 0.0 && !temperature.isNaN,
      s"temperature must be >= 0 (0 = the deterministic top-k degenerate), " +
        s"got $temperature")
    // 52 mantissa bits of the hash → u ∈ (0,1) exclusive (the +0.5
    // half-step keeps u away from both endpoints, where ln explodes)
    val u = (pmod(xxhash64(lit(seed), col(idCol)), lit(1L << 52)).cast("double")
      + lit(0.5)) / lit((1L << 52).toDouble)
    scored
      .withColumn("__gumbel_key",
        col(scoreCol) - lit(temperature) * log(-log(u)))
      .orderBy(desc("__gumbel_key"), col(idCol))
      .limit(k)
      .drop("__gumbel_key")
  }

  /**
   * Temperature-based domain mixing — the multilingual/multi-domain
   * resampling rule (mBERT/XLM-R exponent-smoothed sampling; the
   * static form of DoReMi-style reweighting): domain d with n_d of N
   * rows is sampled with probability q_d ∝ (n_d/N)^α, which for a
   * target of T rows without replacement means keeping each of d's
   * rows with rate r_d = min(1, T·q_d/n_d). α < 1 upweights
   * low-resource domains; α = 1 is proportional (uniform r_d = T/N).
   *
   * This entry point fixes α = 0.5, where q_d ∝ √n_d and
   * r_d = min(1, T/(√n_d·Σ_e√n_e)) — chosen because IEEE-754
   * guarantees sqrt is CORRECTLY rounded (pow is not), so the keep
   * rate is bit-reproducible in any engine and the DuckDB oracle can
   * replay it (the Σ is folded in ascending-domain order on both
   * sides). The per-row keep decision uses [[splitAssign]]'s md5-hex
   * scheme but at 2³² buckets (first EIGHT hex chars), not 256: a
   * dominant web domain downsampled to a realistic mixture target
   * needs keep rates of 1e-3–1e-4, where 1/256 resolution rounds to
   * "drop the whole domain" (end = 0) or a 2.5× over-keep of a true
   * 4e-3 rate — the boundary must resolve far below the smallest
   * practical rate. 1/2³² ≈ 2.3e-10 leaves three orders of magnitude
   * of headroom under a 1e-6 keep rate; the decision is still one
   * codegen fixed-width-hex string comparison, still exactly
   * replayable in any engine with md5 (the DuckDB oracle does).
   * Stable across runs, partitionings, and engines, unlike `rand()`.
   *
   * Scale shape: one small groupBy-count on the domain column
   * (driver-collected, REFUSED above `maxDomains` — the guardrail
   * convention), then a broadcast join of the (domain, boundary)
   * table against the corpus and a codegen'd hex-prefix filter — no
   * when-chain to blow codegen, no shuffle of the big side. NULL
   * domains are dropped (inner join), documented.
   */
  /** Per-domain boundary table shared by [[sampleTemperature]] and
    * [[sampleTemperatureStats]]: (domain, n, keepRate, endHex, all).
    * One small groupBy-count driver-collect under the `maxDomains`
    * refusal; the same ascending-domain Σ fold both engines replay. */
  private def temperatureEnds(df: org.apache.spark.sql.DataFrame, domainCol: String,
      targetRows: Long, maxDomains: Int): Seq[(String, Long, Double, String, Boolean)] = {
    require(targetRows > 0, s"targetRows must be positive, got $targetRows")
    val counted = df.where(col(domainCol).isNotNull)
      .groupBy(col(domainCol).cast("string").as("__domain"))
      .agg(count(lit(1)).as("__n"))
      .limit(maxDomains + 1).collect()
    require(counted.length <= maxDomains,
      s"sampleTemperature collects per-domain counts to the driver and refuses " +
        s"more than maxDomains=$maxDomains distinct domains — coarsen the domain " +
        "column or raise the cap")
    val counts = counted.map(r => r.getString(0) -> r.getLong(1)).toMap
    // ascending-domain fold order is part of the cross-engine contract
    val sqrtSum = counts.toSeq.sortBy(_._1)
      .foldLeft(0.0) { case (acc, (_, n)) => acc + math.sqrt(n.toDouble) }
    // 2^32 buckets: an 8-hex-char boundary. Math.round(double) is
    // floor(x+0.5) and DuckDB's round() is half-away-from-zero — they
    // agree on every non-negative value, so the boundary integer is
    // the same on both engines.
    val FullScale = 1L << 32
    counts.toSeq.sortBy(_._1).map { case (d, n) =>
      val frac = math.min(1.0, targetRows.toDouble / (math.sqrt(n.toDouble) * sqrtSum))
      val end = math.min(FullScale, math.round(frac * FullScale.toDouble))
      (d, n, frac, f"$end%08x", end >= FullScale)
    }
  }

  def sampleTemperature(df: org.apache.spark.sql.DataFrame, idCol: String,
      domainCol: String, targetRows: Long,
      maxDomains: Int = 10000): org.apache.spark.sql.DataFrame = {
    requireNoReserved(df, Seq("__domain", "__end", "__all"), "sampleTemperature")
    val spark = df.sparkSession
    import spark.implicits._
    val endsDf = temperatureEnds(df, domainCol, targetRows, maxDomains)
      .map { case (d, _, _, endHex, all) => (d, endHex, all) }
      .toDF("__domain", "__end", "__all")
    df.join(broadcast(endsDf), col(domainCol).cast("string") === col("__domain"))
      .where(col("__all") ||
        substring(md5(col(idCol).cast("string")), 1, 8) < col("__end"))
      .drop("__domain", "__end", "__all")
  }

  /**
   * Realized-mixture telemetry for [[sampleTemperature]]: one row per
   * domain — corpus count `n`, the keep rate `rate` the α = 0.5 rule
   * encodes, and the realized `kept` count under the SAME md5
   * boundaries — so a 100 TB user audits the mixture a sampling run
   * will produce (or just produced) without re-scanning its output.
   * Cost is one aggregate over the corpus (the keep decision is a
   * per-row codegen predicate; the groupBy shuffles one long per
   * domain), independent of the sampled payload width. Same
   * `maxDomains` refusal and NULL-domain drop as the sampler. The
   * join rides `__`-prefixed internal keys (like the sampler itself)
   * and renames to the public `domain`/`n`/`rate`/`kept` only on
   * output, so a corpus whose domain column is literally named
   * "domain" — or that carries `n`/`rate` columns — works unchanged.
   */
  def sampleTemperatureStats(df: org.apache.spark.sql.DataFrame, idCol: String,
      domainCol: String, targetRows: Long,
      maxDomains: Int = 10000): org.apache.spark.sql.DataFrame = {
    requireNoReserved(df, Seq("__domain", "__n", "__rate", "__end", "__all"),
      "sampleTemperatureStats")
    val spark = df.sparkSession
    import spark.implicits._
    val endsDf = temperatureEnds(df, domainCol, targetRows, maxDomains)
      .map { case (d, n, rate, endHex, all) => (d, n, rate, endHex, all) }
      .toDF("__domain", "__n", "__rate", "__end", "__all")
    df.join(broadcast(endsDf), col(domainCol).cast("string") === col("__domain"))
      .groupBy(col("__domain"), col("__n"), col("__rate"))
      .agg(sum(when(col("__all") ||
        substring(md5(col(idCol).cast("string")), 1, 8) < col("__end"), 1L)
        .otherwise(0L)).as("kept"))
      .select(col("__domain").as("domain"), col("__n").as("n"),
        col("__rate").as("rate"), col("kept"))
  }

  /**
   * Per-key document cap — the domain-frequency bound every web-scale
   * curation run applies (Gopher caps documents per domain; C4 caps
   * span repeats): keep at most `maxRows` rows per `keyCol`, selected
   * DETERMINISTICALLY by md5(id) order (the [[hashSampleBy]]
   * convention — "random" but stable across runs, partitionings, and
   * engines; ties broken by the id itself so the winner set is a pure
   * function of the data). NULL keys are dropped — an unattributed
   * document has no domain to cap and silently pooling all of them
   * into one giant pseudo-domain would cap the wrong thing.
   *
   * Scale shape: one hash shuffle on the key + a per-key window
   * counting to `maxRows` — no global sort, no driver state; a hot
   * domain's window runs in one task, which is exactly the work that
   * domain requires.
   */
  def capPerKey(df: org.apache.spark.sql.DataFrame, keyCol: String,
      idCol: String, maxRows: Int): org.apache.spark.sql.DataFrame = {
    require(maxRows >= 1, s"maxRows must be >= 1, got $maxRows")
    requireNoReserved(df, Seq("__rn"), "capPerKey")
    import org.apache.spark.sql.expressions.Window
    df.where(col(keyCol).isNotNull)
      .withColumn("__rn", row_number().over(
        Window.partitionBy(col(keyCol))
          .orderBy(md5(col(idCol).cast("string")), col(idCol))))
      .where(col("__rn") <= maxRows).drop("__rn")
  }

  /**
   * Token-budget SHARD assignment — the output-writing half of a
   * pretraining run ([[packSequences]]'s global sibling): documents
   * taken in `orderCol` order fill shard 0 until `budgetTokens` is
   * reached, then shard 1, and so on — `shard = floor(exclusive-cumsum
   * (tokens) / budget)`. Data loaders want shards of near-equal token
   * mass, and the boundary decision must be a pure function of the
   * corpus (not of partitioning or engine) so a backfill writes the
   * same shard layout. A document larger than the budget still lands
   * in ONE shard (documents are atomic here) and later ids then skip —
   * shard ids are monotone but not necessarily dense.
   *
   * Scale shape — the naive formulation is a cumulative sum over ONE
   * global window (a single task sorting the corpus); this one is the
   * classic two-level prefix sum, with a correctness property that
   * makes it safe: for ANY bucketing that is monotone in `orderCol`,
   * within-bucket-cumsum + per-bucket-offset equals the global cumsum
   * EXACTLY. So buckets are UNIFORM-WIDTH cuts of the observed
   * [min, max] key range — the tag is one subtraction, multiply, and
   * floor per row (whole-stage codegen; a quantile-cut when-chain was
   * measured 20× slower at 10M rows because a 255-deep conditional
   * tree falls out of codegen), and bucket balance affects only the
   * per-bucket window task size, never the assignment (spec'd:
   * nBuckets 1 vs 256 are row-identical). One min/max pass, one
   * map-side-combined aggregate for per-bucket token sums (collected:
   * ≤ `nBuckets` longs on the driver — EMPTY buckets never appear, so
   * a skewed key range costs nothing there), then the final plan =
   * codegen bucket tag → per-BUCKET window cumsum + broadcast-joined
   * bucket offset. Keys pack densely in practice (doc ids,
   * timestamps); for a pathologically clumped numeric key raise
   * `nBuckets` — the tag cost is O(1) in it — until the largest
   * bucket's window fits a task.
   *
   * The operator runs TWO jobs over its input: one eager pruned
   * aggregate (range bounds + validation + token total) and the final
   * plan, whose offsets branch — the per-bucket sums — executes inside
   * the same job as the assignment branch. At the end of an expensive
   * lazy chain, materialize the input first (`localCheckpoint`/`cache`)
   * or the chain re-executes per branch.
   *
   * Preconditions (the [[Dedup.dedupParagraphs]] id convention):
   * `orderCol` must be NUMERIC (range cuts come from quantiles),
   * non-null, and UNIQUE per row — the exclusive cumsum needs a total
   * order, and ties would make it partition-order-dependent.
   * `tokenCol` must be a non-null, non-negative integral count; both
   * are validated in the sums pass (refuse, don't mis-assign).
   * Token totals are exact in double up to 2⁵³ (a 100 TB corpus is
   * ~2⁴⁵ tokens — three orders under the cliff).
   */
  def packShards(df: org.apache.spark.sql.DataFrame, tokenCol: String,
      orderCol: String, budgetTokens: Long,
      nBuckets: Int = 256, outCol: String = "shard"): org.apache.spark.sql.DataFrame =
    packShardsFrom(df, tokenCol, orderCol, budgetTokens, 0L, nBuckets, outCol)._1

  /** [[packShards]] with a carried-in token offset — the incremental/
    * streaming form (the family's `Across` convention): the cumsum
    * starts at `startOffset` instead of 0, and the call returns the
    * END offset (`startOffset` + this frame's token total) to seed the
    * next batch, so consecutive batches pack ONE continuous shard
    * sequence. Across batches the order is arrival-then-`orderCol`
    * (a stream has no global key order); the result equals the batch
    * operator on the concatenation whenever batches arrive in key
    * order (spec'd). The total rides the sums pass that already runs —
    * no extra job. */
  def packShardsFrom(df: org.apache.spark.sql.DataFrame, tokenCol: String,
      orderCol: String, budgetTokens: Long, startOffset: Long,
      nBuckets: Int = 256,
      outCol: String = "shard"): (org.apache.spark.sql.DataFrame, Long) = {
    require(startOffset >= 0, s"startOffset must be >= 0, got $startOffset")
    require(budgetTokens >= 1, s"budgetTokens must be >= 1, got $budgetTokens")
    require(nBuckets >= 1 && nBuckets <= 65536,
      s"nBuckets must be in [1, 65536] (per-bucket sums are collected), got $nBuckets")
    require(!df.columns.contains(outCol),
      s"output column '$outCol' already exists on the input frame")
    requireNoReserved(df, Seq("__bk", "__off", "__cum0"), "packShards")
    require(df.schema(orderCol).dataType.isInstanceOf[org.apache.spark.sql.types.NumericType],
      s"orderCol '$orderCol' must be numeric (uniform range bucketing), " +
        s"got ${df.schema(orderCol).dataType.simpleString}")
    import org.apache.spark.sql.expressions.Window
    // ONE eager pass (pruned to orderCol + tokenCol): range bounds,
    // row count, the token total (the returned end offset), and EVERY
    // precondition — null/negative tokens, null/duplicate order keys —
    // folded into a single global aggregate. (Round 12: this absorbs
    // what used to be a separate per-bucket validation pass; the
    // per-bucket sums the offsets need moved INTO the final plan, so
    // the operator runs two jobs over its input instead of three. The
    // range genuinely must precede the bucket tag — the tag is a
    // function of (lo, hi) — so the remaining alternative, sampled
    // bounds, was rejected: a prefix-biased sample on sorted keys
    // clamps most of the corpus into the last bucket and recreates
    // the single-giant-window failure the buckets exist to prevent.)
    val mm = df.agg(
      min(col(orderCol).cast("double")), // 0: lo
      max(col(orderCol).cast("double")), // 1: hi
      count(lit(1)), // 2: n
      sum(when(col(tokenCol).isNull || col(tokenCol) < 0, 1L).otherwise(0L)), // 3: bad
      sum(col(tokenCol).cast("long")), // 4: token total (refused if bad > 0)
      count(col(orderCol)), // 5: non-null order keys
      countDistinct(col(orderCol)) // 6: distinct order keys
    ).head()
    // distinguish EMPTY (fine: nothing to pack) from ALL-NULL keys
    // (refuse — the empty early-return must not swallow the non-null
    // precondition and silently drop a whole frame/micro-batch)
    require(!mm.isNullAt(0) || mm.getLong(2) == 0L,
      s"packShards: order column '$orderCol' is NULL on every row " +
        "(the exclusive cumsum needs a total order)")
    if (mm.isNullAt(0))
      return (df.withColumn(outCol, lit(null).cast("long")).where(lit(false)), startOffset)
    require(mm.getLong(3) == 0L,
      s"packShards: ${mm.getLong(3)} null/negative values in token column '$tokenCol'")
    require(mm.getLong(6) == mm.getLong(5) && mm.getLong(5) == mm.getLong(2),
      s"packShards: order column '$orderCol' must be non-null and unique " +
        "(the exclusive cumsum needs a total order)")
    val end = startOffset + mm.getLong(4)
    val (lo, hi) = (mm.getDouble(0), mm.getDouble(1))
    // uniform-width monotone tag; the clamp covers v == max landing on
    // the open edge. Width divides ONCE on the driver; the per-row tag
    // is (v - lo) * invWidth -> floor -> int, pure codegen arithmetic.
    val bucket =
      if (nBuckets == 1 || lo == hi) lit(0)
      else least(lit(nBuckets - 1), greatest(lit(0),
        floor((col(orderCol).cast("double") - lit(lo)) *
          lit(nBuckets.toDouble / (hi - lo + 1.0))).cast("int")))
    val tagged = df.withColumn("__bk", bucket)
    // Per-bucket offsets IN-PLAN (no separate eager pass, no driver
    // collect): a map-side-combined per-bucket sum — pruned to two
    // columns at the scan — then a running sum over its ≤ nBuckets
    // aggregate rows (a single-task window over a tiny frame, not
    // over the corpus) gives each bucket the token mass of all
    // preceding buckets; broadcast-joined back onto the tagged rows.
    // Both branches execute inside the ONE final job.
    val offsets = tagged.groupBy("__bk").agg(sum(col(tokenCol)).as("__s"))
      .withColumn("__off", lit(startOffset) + coalesce(
        sum(col("__s")).over(Window.orderBy(col("__bk"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("__bk"), col("__off"))
    val cum0 = coalesce(sum(col(tokenCol)).over(
      Window.partitionBy(col("__bk")).orderBy(col(orderCol))
        .rowsBetween(Window.unboundedPreceding, -1)), lit(0L))
    (tagged.join(broadcast(offsets), Seq("__bk"))
      .withColumn("__cum0", col("__off") + cum0)
      .withColumn(outCol, floor(col("__cum0") / lit(budgetTokens)).cast("long"))
      .drop("__bk", "__off", "__cum0"), end)
  }

  /**
   * A histogram-packing STRATEGY (Kosec, Fu & Krell 2021, "Efficient
   * Sequence Packing without Cross-contamination" — the SPFHP
   * algorithm): which multisets of sequence lengths share a
   * fixed-capacity pack, and how many packs of each composition the
   * corpus needs. The strategy is corpus-DERIVED but tiny (one row
   * per composition — bounded by `maxStates`, refused past it), so
   * the corpus-scale assignment is pure broadcast arithmetic
   * ([[packWithStrategy]]). `types` is in the pinned deterministic
   * order (descending-lexicographic composition, longer first on
   * prefix ties) that the assignment replays — reordering it would
   * change every pack id. */
  /** `fixedBase`: the first pack id of this type's contiguous id
    * block, when the FIT pinned it (always for seeded fits — carried
    * packs must keep the ids they already shipped rows under; `None`
    * only on hand-built strategies, where [[packWithStrategy]] derives
    * sequential bases in pinned order). `seedLengths`: the prefix of
    * `lengths` carried in from a previous batch ([[fitPackStrategyFrom]])
    * — those occurrences were already assigned THERE, so this fit's
    * assignment consumes only the `lengths.drop(seedLengths.length)`
    * suffix. */
  case class PackType(lengths: Vector[Int], count: Long,
      fixedBase: Option[Long] = None, seedLengths: Vector[Int] = Vector.empty) {
    /** Length occurrences appended by THIS fit (what the assignment
      * consumes); seeds append at the tail, so the seed is a prefix. */
    def batchLengths: Vector[Int] = lengths.drop(seedLengths.length)
  }
  case class PackStrategy private[operators] (
      maxLen: Int, maxPerPack: Int, types: Seq[PackType]) {
    def numPacks: Long = types.map(_.count).sum
    /** Σ capacity − Σ lengths over all packs — what padding costs. */
    def paddingTokens: Long =
      types.map(t => (maxLen - t.lengths.sum).toLong * t.count).sum
    /** Per-length totals THIS fit's assignment must consume — the
      * never-drop contract's ledger ([[packWithStrategy]] refuses an
      * input whose per-length counts differ: such rows would silently
      * miss their rank block and vanish through the inner join). */
    private[operators] def batchLengthTotals: Map[Int, Long] =
      types.flatMap(t => t.batchLengths.map(_ -> t.count))
        .groupBy(_._1).map { case (l, xs) => l -> xs.map(_._2).sum }
    /** Still-open pack types (below the depth cap with space left) —
      * the state a streaming caller carries into the NEXT batch's
      * [[fitPackStrategyFrom]] so batch boundaries stop closing packs. */
    def openTypes: Seq[PackType] =
      types.filter(t => t.lengths.length < maxPerPack &&
        maxLen - t.lengths.sum >= 1)
    /** First unused pack id after this strategy's blocks (with no
      * pinned bases the assignment numbers packs 0..numPacks−1). */
    def nextPackId: Long =
      if (types.forall(_.fixedBase.isEmpty)) numPacks
      else types.foldLeft(0L)((acc, t) =>
        math.max(acc, t.fixedBase.getOrElse(0L) + t.count))
  }

  /** Fit a [[PackStrategy]] by SPFHP over the corpus's length
    * HISTOGRAM: lengths processed longest-first; each sequence joins
    * the open pack with the SMALLEST sufficient remaining space
    * (shortest-pack-first — the published greedy that keeps packs
    * tight), else opens a new pack; packs close at `maxPerPack`
    * sequences or when nothing can fit. Processing same-length runs
    * in bulk on counts is decision-identical to the one-at-a-time
    * published loop because the greedy DEPTH-FILLS: once a pack
    * accepts an `l`, its remaining space drops strictly below every
    * other candidate's, so the one-at-a-time loop keeps choosing that
    * same pack until it can take no more `l`s (rem < l or the depth
    * cap) — i.e. each chosen pack absorbs q′ = min(maxPerPack − |p|,
    * ⌊rem(p)/l⌋) sequences before the next identical pack starts.
    * The bulk step takes exactly q′-sized transfers (r15 ADVICE: a
    * one-per-pack bulk append diverged whenever rem ≥ 2l — e.g. open
    * {[50]:2} + two 7s at maxLen 64 must yield {[50,7,7],[50]}, not
    * {[50,7]:2}; PackHistSpec pins that case and the randomized
    * identity). Deterministic: candidate selection tie-breaks on the
    * composition key, never on map iteration order.
    *
    * Scale shape: TWO bounded jobs — one global aggregate refusing
    * lengths outside [1, maxLen] (the caller chunks/truncates FIRST;
    * a silent truncation here would hide data loss) plus the ≤ maxLen-row
    * histogram collect — then the driver loop is O(states × lengths),
    * corpus-size-free. */
  def fitPackStrategy(df: org.apache.spark.sql.DataFrame, lenCol: String,
      maxLen: Int, maxPerPack: Int = 3, maxStates: Int = 100000): PackStrategy =
    fitPackStrategyFrom(df, lenCol, maxLen, maxPerPack, maxStates, Nil, 0L,
      pinBases = false)

  /** [[fitPackStrategy]] SEEDED with still-open packs carried from a
    * previous fit (`carried` = the prior strategy's [[PackStrategy.openTypes]],
    * `freshBase` = its [[PackStrategy.nextPackId]]) — the streaming
    * carry: a batch boundary no longer closes every open pack, so a
    * later batch's short documents back-fill the padding an earlier
    * batch left (the [[graft.streaming.StreamOps.packHistPerBatchCarried]]
    * contract). Carried packs keep their already-shipped pack ids
    * (`fixedBase` blocks, consumed lowest-id-first — deterministic);
    * packs opened THIS fit take fresh ids from `freshBase` up, in the
    * pinned composition order. State stays bounded: carried groups
    * count against the same `maxStates` refusal as fit-time
    * compositions. With `carried` empty this IS the published
    * single-corpus SPFHP fit. */
  def fitPackStrategyFrom(df: org.apache.spark.sql.DataFrame, lenCol: String,
      maxLen: Int, maxPerPack: Int, maxStates: Int,
      carried: Seq[PackType], freshBase: Long,
      pinBases: Boolean = true): PackStrategy = {
    require(maxLen >= 1, s"maxLen must be >= 1, got $maxLen")
    require(maxPerPack >= 1, s"maxPerPack must be >= 1, got $maxPerPack")
    require(carried.size <= maxStates,
      s"fitPackStrategyFrom: ${carried.size} carried open-pack groups exceed " +
        s"maxStates = $maxStates — the carried state must stay bounded; close " +
        "packs (drop the carry) or raise the cap")
    carried.foreach { t =>
      require(t.fixedBase.nonEmpty && t.count > 0,
        s"carried pack type $t needs a fixedBase and a positive count " +
          "(pass a previous fit's openTypes, which pin both)")
      require(t.fixedBase.get + t.count <= freshBase,
        s"carried pack ids [${t.fixedBase.get}, ${t.fixedBase.get + t.count}) " +
          s"overlap freshBase = $freshBase — fresh packs would collide")
      require(t.lengths.nonEmpty && t.lengths.length < maxPerPack &&
        t.lengths.forall(l => l >= 1 && l <= maxLen) &&
        maxLen - t.lengths.sum >= 1,
        s"carried pack type $t is not an OPEN pack under maxLen = $maxLen, " +
          s"maxPerPack = $maxPerPack — only openTypes carry forward")
    }
    val mm = df.agg(
      sum(when(col(lenCol).isNull || col(lenCol) < 1 || col(lenCol) > maxLen ||
        col(lenCol).cast("double") =!= col(lenCol).cast("int").cast("double"),
        1L).otherwise(0L)), count(lit(1))).head()
    require(mm.getLong(1) == 0L || mm.getLong(0) == 0L,
      s"fitPackStrategy: ${mm.getLong(0)} rows with '$lenCol' null, non-integral, " +
        s"or outside [1, $maxLen] — chunk/truncate before packing (silent " +
        "truncation here would hide data loss, and a fractional length would " +
        "silently miss the integer strategy key at assignment)")
    val hist = df.groupBy(col(lenCol).cast("int").as("__l"))
      .agg(count(lit(1)).as("__c")).collect()
      .map(r => r.getInt(0) -> r.getLong(1)).sortBy(-_._1)
    // descending-lexicographic composition order, longer first on
    // prefix ties (lengths ≥ 1 ⇒ the 0-pad sorts after any real entry)
    def ordKey(comp: Vector[Int]): Vector[Int] =
      comp.map(-_) ++ Vector.fill(maxPerPack - comp.length)(0)
    implicit val vecOrd: Ordering[Vector[Int]] =
      Ordering.Implicits.seqOrdering[Vector, Int]
    // group identity = (composition, seed block) — seed groups carry
    // (first pack id, seed-prefix length) so instances keep the ids
    // they already shipped under; batch-opened groups (seed = None)
    // of one composition are interchangeable and merge
    type Key = (Vector[Int], Option[(Long, Int)])
    val open = scala.collection.mutable.Map.empty[Key, Long]
    val closed = scala.collection.mutable.Map.empty[Key, Long]
    def rem(comp: Vector[Int]) = maxLen - comp.sum
    def put(key: Key, n: Long): Unit = {
      val m = if (key._1.length >= maxPerPack || rem(key._1) < 1) closed else open
      m(key) = m.getOrElse(key, 0L) + n
      require(open.size + closed.size <= maxStates,
        s"fitPackStrategy: more than $maxStates distinct pack compositions — " +
          "coarsen the length distribution (bucket lengths) or lower maxPerPack")
    }
    carried.foreach(t =>
      put((t.lengths, Some((t.fixedBase.get, t.lengths.length))), t.count))
    for ((l, c0) <- hist) {
      var c = c0
      while (c > 0) {
        val fits = open.keys.filter(k => rem(k._1) >= l)
        if (fits.isEmpty) {
          val q = math.min(maxPerPack, maxLen / l)
          val full = c / q
          if (full > 0) { put((Vector.fill(q)(l), None), full); c -= full * q }
          if (c > 0) { put((Vector.fill(c.toInt)(l), None), 1L); c = 0 }
        } else {
          // smallest sufficient space, composition tie-break, then
          // lowest seed block first (None sorts last) — deterministic
          val best = fits.minBy { case (comp, seed) =>
            (rem(comp), ordKey(comp), seed.map(_._1).getOrElse(Long.MaxValue)) }
          val (bComp, bSeed) = best
          // depth-fill (r15 ADVICE): the one-at-a-time loop keeps
          // extending the pack it just filled (its rem is strictly
          // below every other fit), so each copy of `best` absorbs q
          // sequences before the next copy starts
          val q = math.min(maxPerPack - bComp.length, rem(bComp) / l)
          val m = open(best)
          val full = math.min(m, c / q)
          // partial pack only when an instance remains after the full
          // blocks (full == m leaves the leftover run to re-loop)
          val part = if (full < m && c - full * q > 0) 1L else 0L
          val partLen = (c - full * q).toInt // < q whenever part == 1
          // split the group: instances consume lowest-id-first, so
          // each taken block keeps a base shifted by what preceded it
          open.remove(best)
          def shifted(by: Long): Option[(Long, Int)] =
            bSeed.map { case (b, sl) => (b + by, sl) }
          if (full > 0) put((bComp ++ Vector.fill(q)(l), bSeed), full)
          if (part > 0)
            put((bComp ++ Vector.fill(partLen)(l), shifted(full)), 1L)
          val left = m - full - part
          if (left > 0) put((bComp, shifted(full + part)), left)
          c -= full * q + part * partLen
        }
      }
    }
    val grouped = (open.toSeq ++ closed.toSeq)
      .groupBy(_._1).map { case (key, xs) => key -> xs.map(_._2).sum }.toSeq
      .sortBy { case ((comp, seed), _) =>
        (ordKey(comp), seed.map(_._1).getOrElse(Long.MaxValue)) }
    var nextFresh = freshBase
    val types = grouped.map { case ((comp, seed), n) =>
      seed match {
        case Some((b, sl)) => PackType(comp, n, Some(b), comp.take(sl))
        case None if pinBases =>
          // fresh packs take ids from the frontier up, in pinned order
          // — same values the sequential assignment would derive, but
          // explicit so openTypes can carry into the NEXT batch's fit
          val b = nextFresh; nextFresh += n
          PackType(comp, n, Some(b))
        case None => PackType(comp, n)
      }
    }
    PackStrategy(maxLen, maxPerPack, types)
  }

  /** Assign every row its pack id under a [[PackStrategy]] — the
    * corpus-scale half, pure broadcast arithmetic: rows rank within
    * their length class by `idCol` (the packShards two-level trick —
    * per-(length, id-bucket) counts, running offsets over the tiny
    * aggregate frame, row_number only within (length, bucket) — so a
    * corpus concentrated at one length never funnels through a single
    * window partition), then a broadcast range join against the
    * strategy's consumption table maps (length, rank) → pack id:
    * types consume each length class's ranks contiguously in the
    * strategy's pinned order, instance j of a type taking its j-th
    * block of `m` ranks. Output = input + `pack_id`; rows are never
    * dropped or truncated, Σ lengths ≤ maxLen per pack by
    * construction (spec'd). */
  def packWithStrategy(df: org.apache.spark.sql.DataFrame,
      strategy: PackStrategy, lenCol: String, idCol: String,
      nBuckets: Int = 256, outCol: String = "pack_id"): org.apache.spark.sql.DataFrame = {
    require(!df.columns.contains(outCol),
      s"output column '$outCol' already exists on the input frame")
    requireNoReserved(df,
      Seq("__bk", "__off", "__rnk", "__rlo", "__rhi", "__m", "__pbase"),
      "packWithStrategy")
    require(df.schema(idCol).dataType.isInstanceOf[org.apache.spark.sql.types.NumericType],
      s"idCol '$idCol' must be numeric (uniform range bucketing), " +
        s"got ${df.schema(idCol).dataType.simpleString}")
    import org.apache.spark.sql.expressions.Window
    val spark = df.sparkSession
    import spark.implicits._
    // consumption table: for each (type, length) — which rank block of
    // that length class the type eats, and the per-instance multiplicity
    val consumption = {
      val rankOff = scala.collection.mutable.Map.empty[Int, Long]
      var packBase = 0L
      val rows = strategy.types.flatMap { t =>
        // seeded strategies pin each type's id block at fit; unpinned
        // (hand-built / unseeded) types number sequentially as before
        val base = t.fixedBase.getOrElse { val b = packBase; packBase += t.count; b }
        // only THIS fit's occurrences consume ranks — a carried seed
        // prefix was assigned in its own batch
        t.batchLengths.groupBy(identity).toSeq.sortBy(_._1).map { case (l, occ) =>
          val m = occ.length.toLong
          val lo = rankOff.getOrElse(l, 0L)
          rankOff(l) = lo + t.count * m
          (l, lo, lo + t.count * m - 1, m, base)
        }
      }
      rows.toDF("__l", "__rlo", "__rhi", "__m", "__pbase")
    }
    val mm = df.agg(min(col(idCol).cast("double")), max(col(idCol).cast("double")),
      count(lit(1)), count(col(idCol)), countDistinct(col(idCol)),
      // the assignment joins the RAW length value against the integer
      // strategy key — a null/fractional/out-of-range length would
      // silently match nothing and drop the row (the never-drop
      // contract), so refuse here too, not only at fit
      sum(when(col(lenCol).isNull || col(lenCol) < 1 ||
        col(lenCol) > strategy.maxLen ||
        col(lenCol).cast("double") =!= col(lenCol).cast("int").cast("double"),
        1L).otherwise(0L))).head()
    // distinguish EMPTY (fine: nothing to pack) from ALL-NULL ids
    // (refuse — the empty early-return must not swallow the non-null
    // precondition and silently drop a whole frame/micro-batch)
    require(!mm.isNullAt(0) || mm.getLong(2) == 0L,
      s"packWithStrategy: id column '$idCol' is NULL on every row " +
        "(ranks need a total order)")
    if (mm.isNullAt(0))
      return df.withColumn(outCol, lit(null).cast("long")).where(lit(false))
    require(mm.getLong(4) == mm.getLong(3) && mm.getLong(3) == mm.getLong(2),
      s"packWithStrategy: id column '$idCol' must be non-null and unique " +
        "(ranks need a total order)")
    require(mm.getLong(5) == 0L,
      s"packWithStrategy: ${mm.getLong(5)} rows with '$lenCol' null, " +
        s"non-integral, or outside [1, ${strategy.maxLen}] — such a row would " +
        "silently miss the strategy's integer length key and vanish")
    // never-drop ledger (r15 ADVICE): the rank→pack range join is an
    // INNER join, so a row whose (length, rank) the strategy does not
    // cover — any strategy not fit on exactly this frame — would
    // silently vanish; one ≤ maxLen-row aggregate refuses the mismatch
    // instead (both directions: surplus input rows would overflow
    // their rank blocks, missing ones would leave phantom pack ids)
    val expected = strategy.batchLengthTotals
    val got = df.groupBy(col(lenCol).cast("int").as("__l"))
      .agg(count(lit(1)).as("__c")).collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    val mismatch = (expected.keySet ++ got.keySet).filter(l =>
      expected.getOrElse(l, 0L) != got.getOrElse(l, 0L))
    require(mismatch.isEmpty,
      s"packWithStrategy: input per-length counts differ from the strategy's " +
        s"at length(s) ${mismatch.toSeq.sorted.take(8).mkString(", ")} — the " +
        "strategy was not fit on this frame (uncovered rows would silently " +
        "vanish through the rank join); refit on exactly this input")
    val (lo, hi) = (mm.getDouble(0), mm.getDouble(1))
    val bucket =
      if (nBuckets == 1 || lo == hi) lit(0)
      else least(lit(nBuckets - 1), greatest(lit(0),
        floor((col(idCol).cast("double") - lit(lo)) *
          lit(nBuckets.toDouble / (hi - lo + 1.0))).cast("int")))
    val tagged = df.withColumn("__bk", bucket)
    val offsets = tagged.groupBy(col(lenCol).as("__l"), col("__bk"))
      .agg(count(lit(1)).as("__s"))
      .withColumn("__off", coalesce(
        sum(col("__s")).over(Window.partitionBy("__l").orderBy(col("__bk"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("__l"), col("__bk"), col("__off"))
    val ranked = tagged
      .join(broadcast(offsets),
        tagged(lenCol) === offsets("__l") && tagged("__bk") === offsets("__bk"))
      .drop(offsets("__l")).drop(offsets("__bk"))
      .withColumn("__rnk", col("__off") - 1 +
        row_number().over(Window.partitionBy(col(lenCol), col("__bk"))
          .orderBy(col(idCol))))
    ranked
      .join(broadcast(consumption),
        ranked(lenCol) === consumption("__l") &&
          col("__rnk").between(col("__rlo"), col("__rhi")))
      .withColumn(outCol,
        col("__pbase") + floor((col("__rnk") - col("__rlo")) / col("__m")).cast("long"))
      .drop("__bk", "__off", "__rnk", "__l", "__rlo", "__rhi", "__m", "__pbase")
  }

  /** [[fitPackStrategy]] + [[packWithStrategy]]: SPFHP sequence
    * packing end to end — the padding-minimizing layout between
    * [[packShards]] (token-budget shard assignment) and the
    * concat-then-chunk `pack_sequences` layout (zero padding but
    * cross-document truncation/contamination): every document stays
    * whole, packs never exceed `maxLen` tokens, and padding is what
    * the greedy could not fill. */
  def packSequencesHist(df: org.apache.spark.sql.DataFrame, lenCol: String,
      idCol: String, maxLen: Int, maxPerPack: Int = 3,
      outCol: String = "pack_id"): org.apache.spark.sql.DataFrame = {
    // fit (range agg + histogram) and assignment (id agg + offsets +
    // ranked join) together execute the input ~5× — cut the lineage
    // once here (lazy: first consumer materializes), the pipeline
    // seam-cut convention; callers composing fit and assignment
    // themselves pass an already-materialized frame instead
    val cut = df.localCheckpoint(false)
    packWithStrategy(cut, fitPackStrategy(cut, lenCol, maxLen, maxPerPack),
      lenCol, idCol, outCol = outCol)
  }

  /**
   * CCNet quality bucketing — the head/middle/tail split (Wenzek et
   * al. 2020 §4.3: rank each language's documents by LM score, cut
   * the corpus at fixed cumulative fractions; head = best-scoring
   * third in the original, used to pick training subsets). Each row
   * gets the label of the first cut its within-group cumulative
   * fraction falls under: F(s) = (# group rows with score ≤ s) / n,
   * label = labels(i) for the first cuts(i) ≥ F, else labels.last.
   * Ties share F and therefore share a bucket — deterministic, no
   * rank arbitration.
   *
   * Scale shape — the quantile is computed WITHOUT buffering a
   * group's values (Spark's exact `percentile` buffers per group;
   * CCNet sorts per shard): (1) round the score to `quantizeDp`
   * decimals and count per (group, rounded score) — one
   * map-side-combined narrow shuffle; (2) running + total sums by
   * group over the distinct-rounded-score frame; (3) equi-join the
   * labels back on (group, rounded score). Cumulative fractions
   * divide identical integers in both engines, so bucket boundaries
   * are bit-reproducible. Rows with NULL score or NULL group are
   * dropped (they have no place in a quantile; filter or impute
   * upstream).
   *
   * `quantizeDp` is the 100 TB lever, not a convenience: a window
   * PARTITIONed BY group runs each group's frame in ONE task, so the
   * per-group input must be bounded by something other than corpus
   * size. Raw LM scores are near-unique per document — at the default
   * 6 dp the distinct-score frame IS the corpus and a billion-doc
   * language would sort in a single task. At 3 dp the frame is
   * bounded by the SCORE RANGE (lm_nll spans ~[0, 25] ⇒ ≤ 25k rows
   * per group, forever, regardless of corpus size) and a document can
   * shift bucket only if an exact cut falls inside its half-quantum —
   * the histogram-quantile trade every production sketch makes,
   * except deterministic. The default stays 6 dp (exact for scores
   * already rounded to 6 dp, like [[lmScore]]'s output — the gate
   * oracle replays it verbatim); drop it to 2–3 dp at corpus scale.
   *
   * The lever is GUARDED, not just documented (the family's
   * refuse-don't-wedge convention, like `maxDomains`/`maxRows`): an
   * eager pre-check counts distinct quantized scores per group — one
   * map-side-combined narrow pass over the input — and REFUSES, naming
   * `quantizeDp`, when any group would feed its window more than
   * `maxDistinctPerGroup` rows. The counts frame the check reads is
   * lazily localCheckpoint-cut, so the check's job MATERIALIZES it and
   * the quantile window reuses it — upstream lineage runs once, not
   * twice. Pass `maxDistinctPerGroup = Long.MaxValue` to skip the
   * pass (and the cut) when the cardinality is known bounded (e.g.
   * scores already quantized at the source).
   */
  def qualityBuckets(df: org.apache.spark.sql.DataFrame, scoreCol: String,
      groupCol: String, cuts: Seq[Double] = Seq(0.3, 0.7),
      labels: Seq[String] = Seq("head", "middle", "tail"),
      outCol: String = "bucket", quantizeDp: Int = 6,
      maxDistinctPerGroup: Long = 1000000L): org.apache.spark.sql.DataFrame = {
    require(cuts.nonEmpty && cuts == cuts.sorted && cuts.forall(c => c > 0 && c < 1),
      s"cuts must be sorted fractions in (0, 1), got $cuts")
    require(labels.length == cuts.length + 1,
      s"need ${cuts.length + 1} labels for ${cuts.length} cuts, got ${labels.length}")
    require(!df.columns.contains(outCol),
      s"output column '$outCol' already exists on the input frame")
    require(quantizeDp >= 0 && quantizeDp <= 10,
      s"quantizeDp must be in [0, 10], got $quantizeDp")
    require(maxDistinctPerGroup >= 1,
      s"maxDistinctPerGroup must be >= 1, got $maxDistinctPerGroup")
    requireNoReserved(df, Seq("__q"), "qualityBuckets")
    val (q, frac) = quantizedFracFrame(df, scoreCol, groupCol, quantizeDp,
      maxDistinctPerGroup, "qualityBuckets")
    val label = cuts.zip(labels.init).foldRight(lit(labels.last): Column) {
      case ((cut, l), acc) => when(col("__f") <= cut, lit(l)).otherwise(acc)
    }
    q.join(frac.select(col(groupCol), col("__q"), label.as(outCol)),
      Seq(groupCol, "__q")).drop("__q")
  }

  /** The shared quantile core of [[qualityBuckets]] and
    * [[bucketBoundaries]] — ONE implementation so the frozen-boundary
    * path can never drift from the direct path (their exact-equality
    * contract is spec'd): NULL score/group drop, `quantizeDp`
    * rounding, per-(group, quantized score) counts, the
    * `maxDistinctPerGroup` refusal, and the cumulative-fraction
    * window. Returns (quantized rows, (group, __q, __f) frame). */
  private def quantizedFracFrame(df: org.apache.spark.sql.DataFrame,
      scoreCol: String, groupCol: String, quantizeDp: Int,
      maxDistinctPerGroup: Long,
      op: String): (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame) = {
    import org.apache.spark.sql.expressions.Window
    val q = df.where(col(scoreCol).isNotNull && col(groupCol).isNotNull)
      .withColumn("__q", round(col(scoreCol), quantizeDp))
    val counts = q.groupBy(col(groupCol), col("__q")).agg(count(lit(1)).as("__c"))
    // The guard rides IN-PLAN (round 12, replacing the r10 eager
    // pre-check + lazy localCheckpoint): a per-group row count over
    // the SAME window partitioning the fraction already shuffles on
    // (no extra exchange), raise_error on the first over-cap row. Why
    // in-plan matters: the eager check was its own job, so the
    // expensive upstream lineage (dedup→decon→lmScore in the
    // composed pipeline) executed once for the check's materialization
    // and AGAIN in the final action — cross-job exchange reuse does
    // not exist. In ONE job, both consumers of the scored frame sit
    // under one plan and Catalyst reuses its final exchange
    // (ReusedExchange), which is the single-job shape this operator
    // had before the guard. Refusal semantics are unchanged in
    // content (same message, naming quantizeDp and the group) but
    // surface at ACTION time as Spark's USER_RAISED_EXCEPTION —
    // the quantile window that would have buffered the oversized
    // group never runs, because the error is evaluated on the counts
    // frame the window reads.
    val frac0 =
      if (maxDistinctPerGroup < Long.MaxValue) {
        val nq = count(lit(1)).over(Window.partitionBy(groupCol))
        val msg = concat(
          lit(s"$op: group '"), col(groupCol).cast("string"),
          lit(s"' has "), nq.cast("string"),
          lit(s" distinct scores at quantizeDp=$quantizeDp, over " +
            s"maxDistinctPerGroup=$maxDistinctPerGroup — its quantile window " +
            "would buffer that entire frame in one task; lower quantizeDp " +
            "(the distinct count is then bounded by the score range, not the " +
            "corpus) or raise the cap deliberately"))
        counts.withColumn("__f_guard",
          when(nq > maxDistinctPerGroup, raise_error(msg).cast("double"))
            .otherwise(lit(0.0)))
      } else counts.withColumn("__f_guard", lit(0.0))
    val frac = frac0
      .withColumn("__f",
        sum("__c").over(Window.partitionBy(groupCol).orderBy("__q"))
          .cast("double") /
        sum("__c").over(Window.partitionBy(groupCol)) + col("__f_guard"))
      .drop("__f_guard")
    (q, frac)
  }

  /**
   * FROZEN bucket boundaries — the artifact half of [[qualityBuckets]]
   * (the [[UnigramLm]] convention applied to the quantile cuts): per
   * group, the maximum quantized score whose cumulative fraction sits
   * at or under each cut, computed ONCE on a reference corpus. New
   * shards are then labeled against these fixed thresholds with
   * [[applyBuckets]] — CCNet's deployment shape, where a shard's
   * head/middle/tail assignment must not depend on the shard's own
   * score distribution (per-shard quantiles would re-cut every batch
   * of a stream under itself).
   *
   * Output: one row per group — (`groupCol`, `__b` array of
   * `cuts.length` boundary scores, NULL where no score's cumulative
   * fraction reaches under the cut, e.g. a dominant lowest tie). By
   * monotonicity of the cumulative fraction, `score ≤ boundary(i)` ⟺
   * `F(score) ≤ cuts(i)`, so applying these boundaries back to the
   * REFERENCE corpus reproduces [[qualityBuckets]] exactly (spec'd).
   * Same quantize/guard levers and NULL-drop rule as
   * [[qualityBuckets]]; the result is small (rows = groups),
   * localCheckpoint-MATERIALIZED at fit (the [[fitUnigramLm]]
   * artifact convention — a lazy boundaries frame would re-execute
   * the entire scoring lineage on every use, every micro-batch in a
   * stream), and broadcast by [[applyBuckets]].
   */
  def bucketBoundaries(df: org.apache.spark.sql.DataFrame, scoreCol: String,
      groupCol: String, cuts: Seq[Double] = Seq(0.3, 0.7),
      quantizeDp: Int = 6,
      maxDistinctPerGroup: Long = 1000000L): org.apache.spark.sql.DataFrame = {
    require(cuts.nonEmpty && cuts == cuts.sorted && cuts.forall(c => c > 0 && c < 1),
      s"cuts must be sorted fractions in (0, 1), got $cuts")
    require(quantizeDp >= 0 && quantizeDp <= 10,
      s"quantizeDp must be in [0, 10], got $quantizeDp")
    require(maxDistinctPerGroup >= 1,
      s"maxDistinctPerGroup must be >= 1, got $maxDistinctPerGroup")
    requireNoReserved(df, Seq("__q"), "bucketBoundaries")
    val (_, frac) = quantizedFracFrame(df, scoreCol, groupCol, quantizeDp,
      maxDistinctPerGroup, "bucketBoundaries")
    frac.groupBy(col(groupCol))
      .agg(array(cuts.map(c => max(when(col("__f") <= c, col("__q")))): _*).as("__b"))
      .localCheckpoint(true)
  }

  /**
   * Label rows against FROZEN [[bucketBoundaries]]: row gets
   * `labels(i)` for the first boundary its quantized score sits at or
   * under, else `labels.last`. One broadcast join (the boundaries
   * frame has one row per group) plus a codegen when-chain — no
   * shuffle of the scored side, no window, stream-safe. Rows whose
   * group is absent from the boundaries frame are DROPPED (inner
   * join, the [[sampleTemperature]] NULL-domain convention): a group
   * the reference corpus never saw has no thresholds, and silently
   * labeling it `labels.last` would misread "unknown" as "worst".
   */
  def applyBuckets(df: org.apache.spark.sql.DataFrame, boundaries: org.apache.spark.sql.DataFrame,
      scoreCol: String, groupCol: String,
      labels: Seq[String] = Seq("head", "middle", "tail"),
      outCol: String = "bucket", quantizeDp: Int = 6): org.apache.spark.sql.DataFrame = {
    require(!df.columns.contains(outCol),
      s"output column '$outCol' already exists on the input frame")
    requireNoReserved(df, Seq("__q", "__b"), "applyBuckets")
    require(boundaries.columns.toSeq == Seq(groupCol, "__b"),
      s"boundaries must be a ($groupCol, __b) frame from bucketBoundaries, " +
        s"got ${boundaries.columns.mkString(",")}")
    val nCuts = labels.length - 1
    require(nCuts >= 1, s"need at least 2 labels, got $labels")
    val qv = round(col(scoreCol), quantizeDp)
    val label = (0 until nCuts).foldRight(lit(labels.last): Column) {
      case (i, acc) => when(qv <= col("__b").getItem(i), lit(labels(i))).otherwise(acc)
    }
    df.where(col(scoreCol).isNotNull && col(groupCol).isNotNull)
      .join(broadcast(boundaries), Seq(groupCol))
      .withColumn(outCol, label)
      .drop("__b")
  }

  /**
   * Token-window chunking with overlap — the RAG/pretraining splitter
   * (the reference's vignette demonstrates exactly this document-chunks
   * shape, /root/reference/vignettes/getting-started.Rmd:245-263, built
   * by hand). Emits one row per chunk: windows of `chunkSize` original
   * (case-preserved) whitespace tokens, starting every
   * `chunkSize - overlap` tokens; the final partial window is kept. A
   * pure explode over codegen'd array ops — no UDF, no shuffle.
   */
  def chunk(df: org.apache.spark.sql.DataFrame, textCol: String,
      chunkSize: Int, overlap: Int = 0,
      chunkIdxCol: String = "chunk_idx", chunkCol: String = "chunk"): org.apache.spark.sql.DataFrame = {
    require(chunkSize > 0 && overlap >= 0 && overlap < chunkSize,
      s"need 0 <= overlap < chunkSize, got chunkSize=$chunkSize overlap=$overlap")
    val step = chunkSize - overlap
    val toks = filter(split(col(textCol), Ws), t => length(t) > 0)
    // chunk start indices: 0, step, 2·step, … while start < nTokens
    val starts = when(size(toks) > 0,
      sequence(lit(0), size(toks) - 1, lit(step))).otherwise(array().cast("array<int>"))
    df.withColumn("__toks", toks)
      .withColumn(chunkIdxCol, explode(starts))
      .withColumn(chunkCol,
        concat_ws(" ", slice(col("__toks"), col(chunkIdxCol) + 1, lit(chunkSize))))
      .withColumn(chunkIdxCol, (col(chunkIdxCol) / step).cast("long"))
      .drop("__toks")
  }
}

/** DuckDB fragments generated from the same constants — the oracle side
  * of each verb above. */
object TextAnalysisSql {
  import TextAnalysis._

  val tokenSetSql: String => String = t =>
    s"list_distinct(list_filter(string_split_regex(lower($t), '$Ws'), x -> len(x) > 0))"
  val tokenCountSql: String => String = t =>
    s"len(list_filter(string_split_regex(lower($t), '$Ws'), x -> len(x) > 0))"
  val regexTokenCountSql: String => String = t =>
    s"len(regexp_extract_all($t, '$WordRegex'))"
  val punctCountSql: String => String = t =>
    s"length(regexp_replace($t, '[A-Za-z0-9$WsClass]', '', 'g'))"

  def langHitsSql(t: String, lang: String): String = {
    val words = LangProfiles.toMap.apply(lang).map(w => s"'$w'").mkString("[", ", ", "]")
    s"len(list_intersect(${tokenSetSql(t)}, $words))"
  }
  // RE2 (DuckDB) spells the codepoint range \x{...}; Java spells it \uXXXX
  def cjkCountSql(t: String): String =
    s"length(regexp_replace($t, '[^\\x{4e00}-\\x{9fff}]', '', 'g'))"

  def langIdSql(t: String): String = {
    val scores = LangProfiles.map { case (l, _) => l -> langHitsSql(t, l) } :+
      ("zh" -> cjkCountSql(t))
    val m = scores.map(_._2).mkString("greatest(", ", ", ")")
    val cases = scores.map { case (l, s) => s"WHEN $s = $m AND $m > 0 THEN '$l'" }
    s"CASE ${cases.mkString(" ")} ELSE 'en' END"
  }

  def qualityScoreSql(t: String): String = {
    val nToks = tokenCountSql(t)
    s"""round(0.4 * least(1.0, $nToks / 20.0)
       | + 0.4 * (${langHitsSql(t, "en")} / 10.0)
       | + 0.2 * (1.0 - CASE WHEN length($t) > 0
       |   THEN ${punctCountSql(t)} * 1.0 / length($t) ELSE 0.0 END), 6)""".stripMargin
  }

  def contentFingerprintSql(t: String): String =
    s"md5(regexp_replace(trim(lower($t)), '$Ws', ' ', 'g'))"

  /** [[TextAnalysis.lmScore]]'s oracle: the same tokenization, the same
    * add-one unigram model, the same integer micro-nat quantization
    * before the per-doc sum. `table`/`id`/`text` name the input. */
  /** The lmScore CTE chain ending in `scored(id, n_toks, lm_nll)` —
    * shared by the standalone oracle and the bucketing oracle. */
  private def lmScoreCtes(table: String, id: String, text: String): String =
    s"""toks AS (
       |  SELECT $id, unnest(list_filter(string_split_regex(lower($text), '$Ws'),
       |                     x -> len(x) > 0)) AS tok
       |  FROM $table),
       |cnt AS (SELECT tok, count(*) AS c FROM toks GROUP BY tok),
       |tot AS (SELECT sum(c) AS n_total, count(*) AS vocab FROM cnt),
       |scored AS (
       |  SELECT t.$id, count(*) AS n_toks,
       |         round(sum(CAST(round(-1000000.0 * ln((cnt.c + 1) * 1.0
       |                   / (tot.n_total + tot.vocab))) AS BIGINT)) * 1.0
       |               / (1000000.0 * count(*)), 6) AS lm_nll
       |  FROM toks t JOIN cnt ON t.tok = cnt.tok CROSS JOIN tot
       |  GROUP BY t.$id)""".stripMargin

  def lmScoreSql(table: String, id: String, text: String): String =
    s"""WITH ${lmScoreCtes(table, id, text)}
       |SELECT $id, n_toks, lm_nll FROM scored""".stripMargin

  /** [[TextAnalysis.lmScoreAgainst]]'s oracle: the model's counts and
    * totals come from `modelWhere` rows ONLY; `scoreWhere` rows are
    * scored with a LEFT join (OOV count = 0) against the frozen
    * denominator — the same add-one formula, the same micro-nat
    * quantization. */
  def lmScoreFrozenSql(table: String, id: String, text: String,
      modelWhere: String, scoreWhere: String): String =
    s"""WITH mtoks AS (
       |  SELECT unnest(list_filter(string_split_regex(lower($text), '$Ws'),
       |                x -> len(x) > 0)) AS tok
       |  FROM $table WHERE $modelWhere),
       |cnt AS (SELECT tok, count(*) AS c FROM mtoks GROUP BY tok),
       |tot AS (SELECT sum(c) AS n_total, count(*) AS vocab FROM cnt),
       |stoks AS (
       |  SELECT $id, unnest(list_filter(string_split_regex(lower($text), '$Ws'),
       |                     x -> len(x) > 0)) AS tok
       |  FROM $table WHERE $scoreWhere),
       |scored AS (
       |  SELECT t.$id, count(*) AS n_toks,
       |         round(sum(CAST(round(-1000000.0 * ln((coalesce(cnt.c, 0) + 1) * 1.0
       |                   / (tot.n_total + tot.vocab))) AS BIGINT)) * 1.0
       |               / (1000000.0 * count(*)), 6) AS lm_nll
       |  FROM stoks t LEFT JOIN cnt ON t.tok = cnt.tok CROSS JOIN tot
       |  GROUP BY t.$id)
       |SELECT $id, n_toks, lm_nll FROM scored""".stripMargin

  /** [[TextAnalysis.gopherStats]]/[[TextAnalysis.gopherKeep]]'s oracle:
    * the same counters and the same integer cross-multiplied
    * thresholds — no float anywhere on either side. */
  def gopherSql(table: String, id: String, text: String,
      minWords: Long, maxWords: Long, minStopHits: Long): String =
    s"""WITH g AS (
       |  SELECT $id,
       |    list_filter(string_split_regex(lower($text), '$Ws'),
       |                x -> len(x) > 0) AS ws,
       |    list_filter(list_transform(string_split($text, chr(10)), l -> trim(l)),
       |                l -> len(l) > 0) AS ls,
       |    CAST(len(regexp_extract_all($text, '#'))
       |       + len(regexp_extract_all($text, '\\.{3}'))
       |       + len(regexp_extract_all($text, '…')) AS BIGINT) AS n_symbols
       |  FROM $table),
       |c AS (
       |  SELECT $id,
       |    CAST(len(ws) AS BIGINT) AS n_words,
       |    CAST(coalesce(list_sum(list_transform(ws, w -> len(w))), 0) AS BIGINT)
       |      AS sum_wlen,
       |    CAST(len(list_filter(ws, w -> regexp_matches(w, '[a-z]'))) AS BIGINT)
       |      AS alpha_words,
       |    CAST(len(list_intersect(list_distinct(ws),
       |      [${GopherStopwords.map(w => s"'$w'").mkString(", ")}])) AS BIGINT)
       |      AS stop_hits,
       |    n_symbols,
       |    CAST(len(ls) AS BIGINT) AS n_lines,
       |    CAST(len(list_filter(ls, l -> l[1] IN ('•', '-', '*'))) AS BIGINT)
       |      AS bullet_lines,
       |    CAST(len(list_filter(ls, l -> l LIKE '%...' OR l LIKE '%…')) AS BIGINT)
       |      AS ellipsis_lines
       |  FROM g)
       |SELECT $id, n_words, sum_wlen, alpha_words, stop_hits, n_symbols,
       |       n_lines, bullet_lines, ellipsis_lines,
       |       (n_words BETWEEN $minWords AND $maxWords)
       |       AND sum_wlen >= n_words * 3 AND sum_wlen <= n_words * 10
       |       AND n_symbols * 10 < n_words
       |       AND bullet_lines * 10 < n_lines * 9
       |       AND ellipsis_lines * 10 < n_lines * 3
       |       AND alpha_words * 5 >= n_words * 4
       |       AND stop_hits >= $minStopHits AS keep
       |FROM c ORDER BY $id""".stripMargin

  /** [[TextAnalysis.lmScoreBigramAgainst]]'s oracle (λ = 0.75): the
    * same array-land adjacent pairs (shifted-slice zip) and the same
    * micro-nat quantization before the per-doc sum. The oracle keeps
    * the REFERENCE three-join formulation (bigram, context, unigram
    * as separate LEFT joins with a NULL-context CASE) while the Spark
    * side runs the two-join form (context totals pre-joined into the
    * bigram frame) — value-identical by case analysis: a matched pair
    * always carries its cx, and an unmatched pair's bigram term is
    * exactly 0.0 under either guard (0/cx in the CASE, the when-null
    * literal in Spark), so every per-token double is bit-equal and
    * the micro-nat longs agree. First tokens score pure add-one
    * unigram on both sides. */
  def lmScoreBigramSql(table: String, id: String, text: String,
      modelWhere: String, scoreWhere: String): String = {
    val toksOf = (t: String) =>
      s"list_filter(string_split_regex(lower($t), '$Ws'), x -> len(x) > 0)"
    s"""WITH ml AS (SELECT ${toksOf(text)} AS l FROM $table WHERE $modelWhere),
       |cnt AS (SELECT unnest(l) AS tok FROM ml),
       |cnt2 AS (SELECT tok, count(*) AS c FROM cnt GROUP BY tok),
       |tot AS (SELECT sum(c) AS n_total, count(*) AS vocab FROM cnt2),
       |mp AS (SELECT unnest(list_zip(l[1:len(l)-1], l[2:len(l)])) AS pr
       |       FROM ml WHERE len(l) >= 2),
       |big AS (SELECT struct_extract(pr, 1) AS prev,
       |               struct_extract(pr, 2) AS tok, count(*) AS c2
       |        FROM mp GROUP BY 1, 2),
       |ctx AS (SELECT prev, sum(c2) AS cx FROM big GROUP BY prev),
       |sl AS (SELECT $id, ${toksOf(text)} AS l FROM $table WHERE $scoreWhere),
       |ftok AS (
       |  SELECT f.$id, CAST(round(-1000000.0 * ln((coalesce(cnt2.c, 0) + 1) * 1.0
       |           / (tot.n_total + tot.vocab))) AS BIGINT) AS nm
       |  FROM (SELECT $id, l[1] AS tok FROM sl WHERE len(l) >= 1) f
       |  LEFT JOIN cnt2 ON f.tok = cnt2.tok CROSS JOIN tot),
       |sp AS (SELECT $id, struct_extract(pr, 1) AS prev,
       |              struct_extract(pr, 2) AS tok
       |       FROM (SELECT $id, unnest(list_zip(l[1:len(l)-1], l[2:len(l)])) AS pr
       |             FROM sl WHERE len(l) >= 2)),
       |ptok AS (
       |  SELECT p.$id, CAST(round(-1000000.0 * ln(
       |           0.75 * (CASE WHEN ctx.cx IS NULL THEN 0.0
       |                        ELSE coalesce(big.c2, 0) * 1.0 / ctx.cx END)
       |         + 0.25 * ((coalesce(cnt2.c, 0) + 1) * 1.0
       |                   / (tot.n_total + tot.vocab)))) AS BIGINT) AS nm
       |  FROM sp p
       |  LEFT JOIN big ON p.prev = big.prev AND p.tok = big.tok
       |  LEFT JOIN ctx ON p.prev = ctx.prev
       |  LEFT JOIN cnt2 ON p.tok = cnt2.tok
       |  CROSS JOIN tot),
       |scored AS (
       |  SELECT $id, count(*) AS n_toks,
       |         round(sum(nm) * 1.0 / (1000000.0 * count(*)), 6) AS lm_nll
       |  FROM (SELECT * FROM ftok UNION ALL SELECT * FROM ptok)
       |  GROUP BY $id)
       |SELECT $id, n_toks, lm_nll FROM scored""".stripMargin
  }

  /** [[TextAnalysis.qualityBuckets]]'s oracle over the lmScore CTEs:
    * same per-(group, score) counts, same windowed cumulative-fraction
    * division of identical integers, same cut boundaries. */
  /** [[fitDsir]]+[[dsirScoreAgainst]]'s oracle for the EXACT
    * (`numBuckets = 0`) degenerate: features (unigrams ∪ space-joined
    * bigrams) counted per corpus, add-one smoothed log ratios
    * micro-quantized with ONE rounding of the difference, summed per
    * scored doc with unseen features at the ct = cr = 0 formula —
    * the same arithmetic shape term for term. */
  def dsirScoreSql(table: String, id: String, text: String,
      targetWhere: String, rawWhere: String, scoreWhere: String): String =
    s"""WITH ${dsirScoreCtes(id, text, s"$table WHERE $targetWhere",
         s"$table WHERE $rawWhere", s"$table WHERE $scoreWhere")}
       |SELECT $id, n_feats, dsir_logw FROM dsir_scored""".stripMargin

  /** [[TextAnalysis.dsirBucketStats]]'s oracle at the numBuckets = 1
    * all-collisions degenerate: the single bucket's ratio derives to
    * ln((nt+1)/(nt+1)) − ln((nr+1)/(nr+1)) (the pooled counts ARE the
    * totals, B = 1) — kept as the derivation rather than folded to
    * its value 0 so the replay proves the arithmetic; the exact side
    * reuses [[dsirScoreCtes]]'s per-feature `dsir_lr`. Sign flips are
    * structurally impossible against a zero bucket (strict opposite
    * signs), so the row's content is the occupancy columns and
    * `mean_abs_gap` = mean |exact ratio| — the full exact-lr
    * derivation aggregated. */
  def dsirBucketStatsExactSql(table: String, id: String, text: String,
      targetWhere: String, rawWhere: String): String =
    s"""WITH ${dsirScoreCtes(id, text, s"$table WHERE $targetWhere",
         s"$table WHERE $rawWhere", s"$table WHERE $rawWhere")},
       |dsir_blr AS (SELECT CAST(round(1000000.0 *
       |    (ln((nt + 1) * 1.0 / (nt + 1)) - ln((nr + 1) * 1.0 / (nr + 1))))
       |    AS BIGINT) AS blrm FROM dsir_tot),
       |dsir_cmp AS (
       |  SELECT u.ct, u.cr, l.lrm, b.blrm
       |  FROM dsir_uni u JOIN dsir_lr l USING (feat) CROSS JOIN dsir_blr b)
       |SELECT CAST(1 AS INTEGER) AS num_buckets,
       |       CAST(1 AS BIGINT) AS buckets_hit,
       |       (SELECT b FROM dsir_tot) AS distinct_feats,
       |       round((SELECT b FROM dsir_tot) * 1.0 / 1, 2) AS feats_per_bucket,
       |       count(*) AS sampled_feats,
       |       CAST(sum(CASE WHEN (lrm > 0 AND blrm < 0) OR (lrm < 0 AND blrm > 0)
       |                     THEN 1 ELSE 0 END) AS BIGINT) AS sign_flips,
       |       round(CAST(sum(CASE WHEN (lrm > 0 AND blrm < 0) OR (lrm < 0 AND blrm > 0)
       |                     THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 6) AS sign_flip_frac,
       |       round(CAST(sum(CASE WHEN (lrm > 0 AND blrm < 0) OR (lrm < 0 AND blrm > 0)
       |                     THEN ct + cr ELSE 0 END) AS DOUBLE) / sum(ct + cr), 6)
       |         AS flip_mass_frac,
       |       round(avg(abs(lrm - blrm)) / 1000000.0, 6) AS mean_abs_gap
       |FROM dsir_cmp""".stripMargin

  /** The CTE list behind [[dsirScoreSql]], with each corpus given as
    * its own FROM clause (a table + WHERE, or a prior CTE name) so a
    * pipeline oracle can splice DSIR over an upstream stage's output —
    * final CTE is `dsir_scored ($id, n_feats, dsir_logw)`. All CTE
    * names are `dsir_`-prefixed to never clash with a host chain's. */
  def dsirScoreCtes(id: String, text: String,
      targetFrom: String, rawFrom: String, scoreFrom: String): String = {
    val toksOf = (t: String) =>
      s"list_filter(string_split_regex(lower($t), '$Ws'), x -> len(x) > 0)"
    def featsOf(src: String, withId: Boolean) = {
      val idSel = if (withId) s"$id, " else ""
      s"""SELECT $idSel unnest(l) AS feat FROM $src
         |  UNION ALL
         |  SELECT $idSel struct_extract(pr, 1) || ' ' || struct_extract(pr, 2) AS feat
         |  FROM (SELECT ${idSel}unnest(list_zip(l[1:len(l)-1], l[2:len(l)])) AS pr
         |        FROM $src WHERE len(l) >= 2)""".stripMargin
    }
    s"""dsir_tl AS (SELECT ${toksOf(text)} AS l FROM $targetFrom),
       |dsir_rl AS (SELECT ${toksOf(text)} AS l FROM $rawFrom),
       |dsir_tf AS (${featsOf("dsir_tl", withId = false)}),
       |dsir_rf AS (${featsOf("dsir_rl", withId = false)}),
       |dsir_tc AS (SELECT feat, count(*) AS ct FROM dsir_tf GROUP BY feat),
       |dsir_rc AS (SELECT feat, count(*) AS cr FROM dsir_rf GROUP BY feat),
       |dsir_uni AS (SELECT coalesce(dsir_tc.feat, dsir_rc.feat) AS feat,
       |               coalesce(dsir_tc.ct, 0) AS ct, coalesce(dsir_rc.cr, 0) AS cr
       |        FROM dsir_tc FULL OUTER JOIN dsir_rc ON dsir_tc.feat = dsir_rc.feat),
       |dsir_tot AS (SELECT count(*) AS b, sum(ct) AS nt, sum(cr) AS nr FROM dsir_uni),
       |dsir_lr AS (SELECT feat,
       |         CAST(round(1000000.0 * (ln((ct + 1) * 1.0 / (nt + b))
       |                  - ln((cr + 1) * 1.0 / (nr + b)))) AS BIGINT) AS lrm
       |       FROM dsir_uni CROSS JOIN dsir_tot),
       |dsir_zero AS (SELECT CAST(round(1000000.0 * (ln((0 + 1) * 1.0 / (nt + b))
       |                  - ln((0 + 1) * 1.0 / (nr + b)))) AS BIGINT) AS z FROM dsir_tot),
       |dsir_sl AS (SELECT $id, ${toksOf(text)} AS l FROM $scoreFrom),
       |dsir_sf AS (${featsOf("dsir_sl", withId = true)}),
       |dsir_scored AS (
       |  SELECT s.$id, count(*) AS n_feats,
       |         round(sum(coalesce(dsir_lr.lrm, dsir_zero.z)) * 1.0 / 1000000.0, 6) AS dsir_logw
       |  FROM dsir_sf s LEFT JOIN dsir_lr ON s.feat = dsir_lr.feat CROSS JOIN dsir_zero
       |  GROUP BY s.$id)""".stripMargin
  }

  def qualityBucketsSql(table: String, id: String, text: String,
      group: String): String =
    s"""WITH ${lmScoreCtes(table, id, text)},
       |j AS (SELECT s.$id, d.$group, s.lm_nll
       |      FROM scored s JOIN $table d USING($id)),
       |c AS (SELECT $group, lm_nll, count(*) AS c FROM j GROUP BY $group, lm_nll),
       |f AS (SELECT $group, lm_nll,
       |        sum(c) OVER (PARTITION BY $group ORDER BY lm_nll) * 1.0 /
       |        sum(c) OVER (PARTITION BY $group) AS f
       |      FROM c)
       |SELECT j.$id, j.$group, j.lm_nll,
       |       CASE WHEN f.f <= 0.3 THEN 'head' WHEN f.f <= 0.7 THEN 'middle'
       |            ELSE 'tail' END AS bucket
       |FROM j JOIN f USING($group, lm_nll)
       |ORDER BY j.$id""".stripMargin

  /** [[TextAnalysis.sampleTemperature]]'s oracle (α = 0.5): same
    * sqrt-based keep rates, same ascending-domain Σ fold, same
    * 2³²-bucket md5 decision (8 hex chars; round() agrees with JVM
    * Math.round on non-negative values). */
  def sampleTemperatureSql(table: String, id: String, domain: String,
      targetRows: Long): String =
    s"""WITH c AS (SELECT $domain AS dom, count(*) AS n FROM $table
       |           WHERE $domain IS NOT NULL GROUP BY $domain),
       |s AS (SELECT list_sum(list_transform(list(CAST(n AS DOUBLE) ORDER BY dom),
       |                                     x -> sqrt(x))) AS sq FROM c),
       |e AS (SELECT dom, least(4294967296, CAST(round(least(1.0,
       |        $targetRows.0 / (sqrt(CAST(n AS DOUBLE)) * s.sq)) * 4294967296) AS BIGINT)) AS endb
       |      FROM c, s)
       |SELECT d.$id, d.$domain FROM $table d JOIN e ON d.$domain = e.dom
       |WHERE e.endb >= 4294967296
       |   OR substr(md5(CAST(d.$id AS VARCHAR)), 1, 8) < printf('%08x', e.endb)""".stripMargin
}
