package graft.operators


import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ColumnBridge

import graft.expressions.SimHash64
import graft.functions.vectors

/**
 * Deduplication for LLM-training-data pipelines (SURVEY §2.3 D) — the
 * full ladder behind one decision table. Pick by what "duplicate"
 * means and what the corpus affords; every tier emits survivor rows,
 * `(id1, id2[, similarity])` pairs that feed the same keep rules, or
 * (for the span tier) excised documents.
 *
 * | Tier (entry point)                  | Finds                    | Cost shape                          | Use when |
 * |-------------------------------------|--------------------------|-------------------------------------|----------|
 * | exact (`exact`/`exactGroups`)       | byte-identical content   | 1 shuffle of (hash, id)             | always run first — it's nearly free |
 * | paragraph (`dedupParagraphs`)       | repeated SUB-document units (boilerplate, quoted chains) | explode + 2 key shuffles, no pair stage | run before the doc-level tiers: strips shared boilerplate that makes distinct pages look like near-dups |
 * | simhash (`simhash`)                 | reordered / near-identical tokens | 1 shuffle, same as exact   | cheap fuzz pass after exact; no threshold control |
 * | minhash-LSH (`minhashPairs`)        | Jaccard ≥ t, probabilistic recall | banded LSH join, sub-quadratic | web-scale corpora where missing a few % of dups is fine |
 * | PPJoin exact (`prefixJaccardPairs`) | Jaccard ≥ t, EXACT       | prefix inverted index, sub-quadratic (candidates ∝ true pairs) | need exact pairs without a blocking key; the default exact tier |
 * | all-pairs exact (`jaccardPairs`)    | Jaccard ≥ t, EXACT       | O(pairs) within blocks — needs `groupCol` blocking | small corpora or strong natural blocking; the oracle baseline |
 * | bitset exact (`bitsetJaccardPairs`) | Jaccard ≥ t, EXACT       | popcount arithmetic; vocab ≤ 4096 (refuses above) | bounded vocabularies (codes, tags, templated text): ~5× the hash tier |
 * | winnowing (`winnowOverlapPairs`)    | shared SUBSTRINGS (copied passages), as PAIRS | codegen rolling-hash fingerprints + df-capped inverted index | plagiarism-style overlap that token-set Jaccard misses (reordered docs sharing a paragraph) |
 * | exact substring (`removeDuplicateSpans`) | duplicated k-token SPANS, EXCISED in place (Lee et al. 2022 ExactSubstr) | positional-gram shuffle + per-doc island window; boilerplate grams past `hotGramCap` mark via broadcast | remove repeated passages rather than flag documents; first occurrence survives, later copies are cut at token granularity; ingest: `removeDuplicateSpansAcross` (8 B/gram exact store) or `…AcrossBloom` (bounded filter, over-excise ≤ fpp) |
 * | embedding (`embeddingPairs`)        | semantic near-dups       | threshold self-join; LSH twin at scale | paraphrase-level dedup after an embed stage |
 * | SemDeDup (`semanticPairs`/`semanticDedup`) | semantic near-dups at corpus scale | within-IVF-cell threshold join, candidates ≤ Σ n_c²/2 | the published cluster-then-prune recipe; never over-deletes vs the exact tier; `semanticIncrementalSurvivors` for ingest, `semanticBoundedSurvivors` for the PQ-coded bounded store; `semanticPairsMulti(nprobe)` recovers boundary pairs |
 * | SemDeDup centroid screen (`semanticDedupByCentroid`) | rows within ε of their cell centroid, collapsed to min id | O(n) scores + nlist-bounded min-id table — NO pair stage | the literal Abbas et al. prune; the tier that stays flat when cells run hot (a 10M-row cell is 10M scores, not 5·10¹³ candidates); coarser than pairwise (opposite-side ball members count as dups) |
 *
 * Precision need → exact tiers (PPJoin default); recall-tolerant scale
 * → MinHash-LSH; semantic → embedding. All thresholds evaluate as
 * integer cross-multiplications (no float drift in membership).
 *
 * Survivor semantics, shared by every tier: a row DROPS iff some
 * candidate row with a smaller id matches it (pair rule id_keep <
 * id_drop) — single-pass, deterministic, order-independent
 * (`survivors`). For chains a~b~c with a≁c: b drops (matched by a) and
 * c drops too (matched by b — the rule looks at MATCHED pairs, not at
 * whether the matcher itself survived), leaving a alone. When
 * keep-one-per-component semantics are wanted instead,
 * `transitiveSurvivors` runs iterative min-label propagation over the
 * duplicate graph (converges or throws; oracle = recursive CTE) —
 * for the a~b~c chain it also keeps exactly {a}, but by computing the
 * component rather than dropping every matched id.
 */
object Dedup {

  /** Threshold as a decimal rational p/q with scale capped at 6 —
    * uncapped, a threshold like 1.0/3 has BigDecimal scale 16, making
    * q = 10^16 and the integer cross-multiplication overflow Long for
    * set sizes in the thousands. 1e-6 threshold precision matches the
    * engine's rounding contract. */
  private def thresholdRational(threshold: Double): (Long, Long) = {
    val t = java.math.BigDecimal.valueOf(threshold)
      .setScale(6, java.math.RoundingMode.HALF_UP)
      .stripTrailingZeros()
    val scale = math.max(0, t.scale)
    (t.unscaledValue.longValueExact, math.pow(10, scale).toLong)
  }

  /** Exact dedup: keep the min-id row per duplicate group. Shuffles a
    * 64-bit hash + id, never the payload; the survivor set comes back
    * via a broadcast-able semi-join at typical dup rates. */
  def exact(df: DataFrame, keyCols: Seq[String], idCol: String): DataFrame = {
    val w = Window.partitionBy(keyCols.map(col): _*).orderBy(col(idCol))
    df.withColumn("__rn", row_number().over(w)).where(col("__rn") === 1).drop("__rn")
  }

  /** Duplicate-group summary (representative id + multiplicity) — the
    * audit view of `exact`. */
  def exactGroups(df: DataFrame, keyCols: Seq[String], idCol: String): DataFrame =
    df.groupBy(keyCols.map(col): _*)
      .agg(min(col(idCol)).as(idCol), count(lit(1)).as("n_copies"))

  /**
   * Paragraph-level exact dedup — the SUB-document tier of the ladder
   * (Dolma's paragraph dedup; CCNet dedups at the same granularity
   * with per-shard line hashes): every occurrence of a repeated
   * paragraph EXCEPT the corpus-wide first is removed from its
   * document's text, and documents are reassembled from their
   * surviving paragraphs in original order (a doc left with no
   * paragraphs disappears). The doc-level tiers see boilerplate-laden
   * pages as mutual near-dups; running this tier first strips the
   * shared boilerplate (headers, nav bars, quoted reply chains) so
   * doc-level passes compare unique content.
   *
   * Deterministic where the published pipelines are not: Dolma keeps
   * whichever occurrence its Bloom filter ingests first (a race under
   * distributed execution); here the winner is the minimum (id,
   * position) pair under struct ordering — a total order — so the
   * output is a pure function of the input regardless of partitioning.
   * `idCol` must be non-null AND unique per row (same convention as
   * [[decontaminate]]; null ids have no place in a total order, and
   * the final reassembly equi-joins the original frame on `idCol` —
   * duplicate ids would cross-multiply rows there and break the
   * min-(id, pos) winner total order).
   *
   * `sep` is a LITERAL separator (regex-quoted internally): "\n" for
   * Dolma-style paragraphs, "\n\n" for blocks. Paragraphs shorter than
   * `minLen` characters BYPASS dedup and are always kept — the
   * min-length guard every published pipeline applies (deduping every
   * empty line or one-word paragraph corpus-wide would shred document
   * formatting). Bypass and subject classes are disjoint by length, so
   * a bypass row can never shadow a winner. When nothing repeats, the
   * output text is byte-identical to the input (split/rejoin on a
   * literal separator is lossless with trailing fields kept).
   *
   * Scale shape: explode → groupBy(paragraph) min-struct — PARTIAL
   * aggregation absorbs the boilerplate hot keys (the same cookie
   * banner on 1% of a 100 TB corpus pre-aggregates map-side to one row
   * per task; min over a struct plans as SortAggregate, so the combine
   * pays a per-partition sort rather than a hash probe — still
   * map-side) → LEFT equi-join ALL occurrences back to winners (keep
   * iff no winner exists — the bypass class, disjoint by length — or
   * the occurrence IS the winner; one join instead of a join ∪ bypass
   * union keeps the corpus at TWO explode passes, and at fixture
   * scale the winners frame broadcasts so the occurrence side never
   * shuffles at all; past broadcast reach it is a para-key shuffle
   * whose hot keys are AQE skew-split territory) → groupBy(doc)
   * sorted-struct reassembly → equi-join onto the original frame by id
   * to restore untouched columns. Paragraph payloads ride each shuffle
   * once; no stage is quadratic in anything.
   */
  def dedupParagraphs(df: DataFrame, textCol: String, idCol: String,
      sep: String = "\n", minLen: Int = 1): DataFrame = {
    require(sep.nonEmpty, "separator must be non-empty")
    require(minLen >= 1, s"minLen must be >= 1, got $minLen")
    requireNotReservedPara(idCol, textCol)
    val paras = explodeParas(df, textCol, idCol, sep)
    val winners = paras.where(length(col("__para")) >= minLen)
      .groupBy("__para").agg(min(struct(col("__did"), col("__pos"))).as("__w"))
    val kept = paras.join(winners, Seq("__para"), "left")
      .where(col("__w").isNull || struct(col("__did"), col("__pos")) === col("__w"))
    reassembleParas(kept, df, textCol, idCol, sep)
  }

  /** The paragraph family's internal column names are reserved for the
    * id/text arguments (the exploded frames SELECT only those two, so
    * other input columns can't collide — but an id column literally
    * named `__pos` would). */
  private def requireNotReservedPara(idCol: String, textCol: String): Unit = {
    val reserved = Set("__did", "__pos", "__para", "__w")
    val clash = Set(idCol, textCol).intersect(reserved)
    require(clash.isEmpty,
      s"paragraph dedup reserves internal column name(s) ${clash.mkString(", ")} — " +
        "rename the id/text columns")
  }

  /** One row per paragraph occurrence: (`__did`, `__pos`, `__para`). */
  private def explodeParas(df: DataFrame, textCol: String, idCol: String,
      sep: String): DataFrame =
    df.select(col(idCol).as("__did"),
      posexplode(split(col(textCol), java.util.regex.Pattern.quote(sep), -1))
        .as(Seq("__pos", "__para")))

  /** Rebuild each doc's text from its kept occurrences (in position
    * order) and restore the untouched columns by id. */
  private def reassembleParas(kept: DataFrame, original: DataFrame,
      textCol: String, idCol: String, sep: String): DataFrame = {
    val reassembled = kept.groupBy("__did")
      .agg(array_join(
        transform(array_sort(collect_list(struct(col("__pos"), col("__para")))),
          p => p("__para")),
        sep).as(textCol))
    original.drop(textCol).join(reassembled.withColumnRenamed("__did", idCol), Seq(idCol))
  }

  /** Distinct dedup-subject paragraphs (length ≥ `minLen`) of a corpus —
    * the seen-store delta for [[dedupParagraphsAcross]]. */
  def paragraphFrame(df: DataFrame, textCol: String, sep: String = "\n",
      minLen: Int = 1): DataFrame =
    df.select(explode(split(col(textCol), java.util.regex.Pattern.quote(sep), -1))
        .as("__para"))
      .where(length(col("__para")) >= minLen).distinct()

  /** The two independent 64-bit paragraph hashes backing the HASHED
    * seen-store: xxhash64 of the paragraph alone, and xxhash64 of the
    * paragraph under a DIFFERENT seed. Argument order is load-bearing:
    * Spark folds multi-arg xxhash64 left-to-right with the running
    * hash as the next seed, so `xxhash64(para, salt)` would compute
    * hash(salt, seed = h1) — a pure function of h1, collapsing the
    * pair to 64-bit resistance (any h1 collision is automatically a
    * pair collision). Salt FIRST instead: h2 = hash(para,
    * seed = hash(salt, 42)) — xxhash64 of the paragraph bytes under an
    * unrelated seed, which is the standard independent-seed
    * construction (spec'd: h2 differs from the chained form). */
  private[graft] val ParaHashSalt = 0x9e3779b97f4a7c15L
  private def paraHash1(c: Column): Column = xxhash64(c)
  private def paraHash2(c: Column): Column = xxhash64(lit(ParaHashSalt), c)

  /** Distinct 128-bit hashes of a corpus's dedup-subject paragraphs —
    * the seen-store delta for [[dedupParagraphsAcrossHashed]]. The
    * store carries two longs per paragraph instead of the paragraph
    * bytes: at corpus scale (Dolma's deployment accumulates the store
    * across the whole ingest) this shrinks the ingest-time state by
    * roughly the corpus's distinct-paragraph bytes, at the price of
    * treating a 128-bit collision as a duplicate — probability
    * ~ paragraphs²/2¹²⁸ (~1e-18 even at 10¹⁰ distinct paragraphs),
    * the same accept-the-hash argument the MinHash and winnowing
    * tiers make. Build deltas over each batch's OUTPUT with the SAME
    * `sep`/`minLen`, like [[paragraphFrame]]. */
  def paragraphHashFrame(df: DataFrame, textCol: String, sep: String = "\n",
      minLen: Int = 1): DataFrame =
    paragraphFrame(df, textCol, sep, minLen)
      .select(paraHash1(col("__para")).as("__h1"), paraHash2(col("__para")).as("__h2"))
      .distinct()

  /** [[dedupParagraphsAcross]] against a HASHED seen-store (two-long
    * 128-bit keys from [[paragraphHashFrame]]) — decision-identical to
    * the string store modulo the 2⁻¹²⁸ collision caveat (spec'd
    * equivalent on fixtures). Bypass paragraphs (length < `minLen`)
    * never consult the store at all, so a polluted store cannot touch
    * them; within-batch winner semantics are unchanged. */
  def dedupParagraphsAcrossHashed(newDf: DataFrame, seenHashes: DataFrame,
      textCol: String, idCol: String, sep: String = "\n", minLen: Int = 1): DataFrame = {
    require(sep.nonEmpty, "separator must be non-empty")
    require(minLen >= 1, s"minLen must be >= 1, got $minLen")
    requireNotReservedPara(idCol, textCol)
    require(seenHashes.columns.toSeq == Seq("__h1", "__h2"),
      s"seenHashes must be a (__h1, __h2) frame from paragraphHashFrame, " +
        s"got ${seenHashes.columns.mkString(",")}")
    val paras = explodeParas(newDf, textCol, idCol, sep)
    val subject = paras.where(length(col("__para")) >= minLen)
      .withColumn("__h1", paraHash1(col("__para")))
      .withColumn("__h2", paraHash2(col("__para")))
      .join(seenHashes, Seq("__h1", "__h2"), "left_anti")
      .drop("__h1", "__h2")
    val fresh = subject.unionByName(paras.where(length(col("__para")) < minLen))
    val winners = subject
      .groupBy("__para").agg(min(struct(col("__did"), col("__pos"))).as("__w"))
    val kept = fresh.join(winners, Seq("__para"), "left")
      .where(col("__w").isNull || struct(col("__did"), col("__pos")) === col("__w"))
    reassembleParas(kept, newDf, textCol, idCol, sep)
  }

  /** [[dedupParagraphsAcrossHashed]] against the BOUNDED-memory
    * [[ParaBloom]] store — the Dolma deployment shape. The membership
    * test is a broadcast + map-side probe over the same codegen'd
    * 128-bit hash pair, so the accumulated store never shuffles (the
    * exact stores ride an anti-join that reshuffles the store every
    * batch). One-sided error, conservative for dedup: a false positive
    * (rate ≤ the filter's design `fpp` while honestly sized) drops a
    * fresh paragraph; a duplicate can NEVER survive, so surviving
    * paragraphs ⊆ the exact store's survivors (spec'd). Bypass
    * paragraphs (length < `minLen`) never probe the filter. Accepts
    * any [[BloomStore]] — the single filter or the sharded
    * [[ParaBloomBank]]; the probe contract (no false negatives,
    * one-sided fpp) is the trait's. */
  def dedupParagraphsAcrossBloom[B <: BloomStore](newDf: DataFrame,
      bloom: org.apache.spark.broadcast.Broadcast[B],
      textCol: String, idCol: String, sep: String = "\n", minLen: Int = 1): DataFrame = {
    require(sep.nonEmpty, "separator must be non-empty")
    require(minLen >= 1, s"minLen must be >= 1, got $minLen")
    requireNotReservedPara(idCol, textCol)
    // the probe is the codegen'd BloomMightContain expression over the
    // broadcast store (r15 audit note: the former two-long UDF boxed
    // per row and broke whole-stage codegen around the hot filter);
    // the hashing it feeds on stays in codegen'd xxhash64 columns
    val seen = graft.expressions.BloomMightContain.probe(bloom) _
    val paras = explodeParas(newDf, textCol, idCol, sep)
    val subject = paras.where(length(col("__para")) >= minLen)
      .where(!seen(paraHash1(col("__para")), paraHash2(col("__para"))))
    val fresh = subject.unionByName(paras.where(length(col("__para")) < minLen))
    val winners = subject
      .groupBy("__para").agg(min(struct(col("__did"), col("__pos"))).as("__w"))
    val kept = fresh.join(winners, Seq("__para"), "left")
      .where(col("__w").isNull || struct(col("__did"), col("__pos")) === col("__w"))
    reassembleParas(kept, newDf, textCol, idCol, sep)
  }

  /**
   * Incremental paragraph dedup — the batch-append/streaming half of
   * [[dedupParagraphs]], and the shape Dolma actually DEPLOYS its
   * paragraph dedup in (a Bloom filter accumulating paragraphs across
   * the ingest stream; here the store is an exact paragraph frame, so
   * the decision is deterministic and false-positive-free — at 100 TB
   * swap the store's strings for 128-bit hashes and accept the 2⁻¹²⁸
   * caveat, or keep strings in a bucketed table on `__para` so the
   * anti-join co-locates without a shuffle of the store).
   *
   * A new-batch paragraph drops if it was EVER shipped before
   * (`seenParas`: one `__para` column — build deltas with
   * [[paragraphFrame]] over each batch's OUTPUT, with the SAME `sep`
   * and `minLen`: a store split on a different separator matches
   * different units and silently changes every decision) or if an
   * earlier (id, pos) occurrence exists within the batch. The bypass
   * class (length < `minLen`) never enters a [[paragraphFrame]]-built
   * store, and is defensively re-filtered out of the store here, so
   * the left-anti passes bypass rows through untouched even against a
   * store assembled by other means. Equals [[dedupParagraphs]] over
   * history ∪ batch whenever batch ids follow history ids
   * (first-arrival order replaces (id, pos) order ACROSS batches —
   * the stream's own semantics).
   */
  def dedupParagraphsAcross(newDf: DataFrame, seenParas: DataFrame,
      textCol: String, idCol: String, sep: String = "\n", minLen: Int = 1): DataFrame = {
    require(sep.nonEmpty, "separator must be non-empty")
    require(minLen >= 1, s"minLen must be >= 1, got $minLen")
    requireNotReservedPara(idCol, textCol)
    require(seenParas.columns.toSeq == Seq("__para"),
      s"seenParas must be a single '__para' column, got ${seenParas.columns.mkString(",")}")
    // defensive: sub-minLen strings in the store must not delete bypass
    // paragraphs (the require above can't see the store's CONTENTS)
    val store = seenParas.where(length(col("__para")) >= minLen)
    val fresh = explodeParas(newDf, textCol, idCol, sep)
      .join(store, Seq("__para"), "left_anti")
    val winners = fresh.where(length(col("__para")) >= minLen)
      .groupBy("__para").agg(min(struct(col("__did"), col("__pos"))).as("__w"))
    val kept = fresh.join(winners, Seq("__para"), "left")
      .where(col("__w").isNull || struct(col("__did"), col("__pos")) === col("__w"))
    reassembleParas(kept, newDf, textCol, idCol, sep)
  }

  /** Append a 64-bit SimHash fingerprint column. */
  def withSimHash(df: DataFrame, textCol: String, outCol: String = "simhash",
      shingleSize: Int = 1): DataFrame =
    df.withColumn(outCol,
      ColumnBridge.column(SimHash64(ColumnBridge.expression(col(textCol)), shingleSize)))

  /** SimHash dedup: fingerprint then exact-bucket keep-min-id. Rows
    * fingerprinting to 0L (blank text, or fewer tokens than the shingle
    * size — no signal at all) are NOT grouped: treating "no signal" as
    * "same content" would silently delete unrelated short documents. */
  def simhash(df: DataFrame, textCol: String, idCol: String,
      shingleSize: Int = 1): DataFrame = {
    val fingerprinted = withSimHash(df, textCol, shingleSize = shingleSize)
    val signal = fingerprinted.where(col("simhash") =!= 0L)
    val noSignal = fingerprinted.where(col("simhash") === 0L)
    exact(signal, Seq("simhash"), idCol).unionByName(noSignal).drop("simhash")
  }

  /**
   * SimHash near-dup PAIRS within Hamming distance `maxHamming` —
   * upgrades the exact-bucket tier to true fingerprint similarity. By
   * the pigeonhole principle, two 64-bit fingerprints differing in at
   * most k bits agree exactly on at least one of k+1 disjoint bit
   * bands, so candidates come from k+1 band-equality bucket joins
   * (each a plain hash join on a narrow integer key — sub-quadratic,
   * no all-pairs stage), then verify with one XOR + popcount. Same
   * no-signal rule as [[simhash]]: zero fingerprints never match.
   *
   * Emits (id1, id2, hamming) with id1 < id2, deduplicated across
   * bands. Candidates per bucket track fingerprint collisions, which
   * at 64 bits track real near-dups — the LSH shape that survives
   * corpus scale.
   */
  def simhashPairs(df: DataFrame, textCol: String, idCol: String,
      maxHamming: Int = 3, shingleSize: Int = 1): DataFrame = {
    require(maxHamming >= 0 && maxHamming < 64,
      s"maxHamming must be in [0, 64), got $maxHamming")
    val nBands = maxHamming + 1
    val bandBits = 64 / nBands
    val fp = withSimHash(df, textCol, shingleSize = shingleSize)
      .where(col("simhash") =!= 0L)
      .select(col(idCol), col("simhash"))
    // band b = bits [b*bandBits, (b+1)*bandBits) — the last band keeps
    // the remainder bits so all 64 participate
    val bands = (0 until nBands).map { b =>
      val width = if (b == nBands - 1) 64 - b * bandBits else bandBits
      val mask = if (width == 64) -1L else (1L << width) - 1
      fp.select(col(idCol), col("simhash"),
        lit(b).as("__band"),
        (shiftright(col("simhash"), b * bandBits).bitwiseAND(lit(mask))).as("__key"))
    }.reduce(_ unionByName _)
    val a = bands.select(col("__band"), col("__key"),
      col(idCol).as("id1"), col("simhash").as("__f1"))
    val b = bands.select(col("__band"), col("__key"),
      col(idCol).as("id2"), col("simhash").as("__f2"))
    a.join(b, Seq("__band", "__key"))
      .where(col("id1") < col("id2"))
      .select(col("id1"), col("id2"),
        bit_count(col("__f1").bitwiseXOR(col("__f2"))).cast("int").as("hamming"))
      .where(col("hamming") <= maxHamming)
      .distinct()
  }

  /**
   * Substring-overlap near-dup pairs via winnowing fingerprints
   * (rolling-hash k-grams, window-min selection — TextAnalysis.
   * winnowFingerprint): pairs sharing ≥ `minShared` selected hashes.
   * Catches COPIED PASSAGES (shared substrings of ≥ w+k−1 chars)
   * that token-set Jaccard dilutes away in long documents — the
   * plagiarism/contamination detector of the ladder.
   *
   * Distributed shape: explode the (small) fingerprint arrays → hash
   * self-join on a single long key → count shared per pair. HOT
   * fingerprints — substrings so common they appear in more than
   * `maxDfFraction` of the corpus (boilerplate, templated phrasing) —
   * are dropped BEFORE the join, exactly like stop-words in an
   * inverted index: they carry no copy signal and their buckets are
   * the only place the join could go quadratic. After the cap,
   * candidate count tracks genuinely shared rare substrings.
   */
  def winnowOverlapPairs(df: DataFrame, textCol: String, idCol: String,
      minShared: Int = 2, k: Int = 5, w: Int = 4,
      maxDfFraction: Double = 0.05): DataFrame = {
    require(minShared > 0, s"minShared must be positive, got $minShared")
    require(maxDfFraction > 0 && maxDfFraction <= 1,
      s"maxDfFraction must be in (0, 1], got $maxDfFraction")
    // The winnow kernel is evaluated once per consumer below (the df
    // aggregate and both join sides — ≤3×, linear each); staying
    // cache-free keeps DataFrame construction side-effect-free and pins
    // no executor blocks. Callers sweeping one corpus repeatedly can
    // persist this frame themselves.
    val fps = df.select(col(idCol),
      explode(TextAnalysis.winnowFingerprint(col(textCol), k, w)).as("__fp"))
    // corpus size enters the plan as a broadcast 1-row aggregate, so
    // constructing this DataFrame launches no job
    val nDocs = df.agg(countDistinct(col(idCol)).as("__ndocs"))
    // The df cap floors at 2, NOT at ndocs·maxDfFraction: on a small
    // corpus that product drops below 2 and a literal cap would drop
    // every fingerprint shared by even two documents — the operator
    // would silently return zero pairs. A fingerprint in exactly 2 docs
    // is the strongest copy signal there is, never boilerplate; it
    // always survives.
    val rare = fps.groupBy(col("__fp"))
      .agg(countDistinct(col(idCol)).as("__df"))
      .crossJoin(broadcast(nDocs))
      .where(col("__df") <=
        greatest(lit(2L), (col("__ndocs") * lit(maxDfFraction)).cast("long")))
      .select(col("__fp"))
    val kept = fps.join(rare, Seq("__fp"))
    val a = kept.select(col(idCol).as("id1"), col("__fp"))
    val b = kept.select(col(idCol).as("id2"), col("__fp"))
    a.join(b, Seq("__fp")).where(col("id1") < col("id2"))
      .groupBy(col("id1"), col("id2"))
      .agg(count(lit(1)).as("n_shared"))
      .where(col("n_shared") >= minShared)
  }

  private def shingles(textCol: Column, n: Int): Column = {
    val toks = filter(split(lower(textCol), graft.expressions.ShingleHashes.WsRegex), t => length(t) > 0)
    if (n == 1) array_distinct(toks)
    else {
      // sequence(0, size-n) only when size >= n: sequence() with a
      // negative end would count DOWN, fabricating shingles
      val idx = when(size(toks) >= n, sequence(lit(0), size(toks) - n))
        .otherwise(array().cast("array<int>"))
      array_distinct(transform(idx, i => concat_ws(" ", slice(toks, i + 1, lit(n)))))
    }
  }

  /** Exact word-n-gram Jaccard similarity of two text columns (shingle
    * *sets* — duplicates collapse, unlike the hybrid keyword score). */
  def jaccard(a: Column, b: Column, shingleSize: Int = 1): Column = {
    val (sa, sb) = (shingles(a, shingleSize), shingles(b, shingleSize))
    val inter = size(array_intersect(sa, sb)).cast("double")
    val union = size(array_union(sa, sb)).cast("double")
    when(union > 0, inter / union).otherwise(lit(0.0))
  }

  /** Exact n-gram-Jaccard near-dup pairs (id1 < id2, similarity ≥ t),
    * optionally blocked on a grouping column to band the O(n²). */
  def jaccardPairs(df: DataFrame, textCol: String, idCol: String, threshold: Double,
      shingleSize: Int = 1, groupCol: Option[String] = None): DataFrame = {
    val withSh = df.select(Seq(col(idCol), col(textCol)) ++ groupCol.map(col): _*)
      .withColumn("__sh", shingles(col(textCol), shingleSize))
      .withColumn("__n", size(col("__sh")))
    val a = withSh.select(Seq(col(idCol).as("id1"), col("__sh").as("__sh1"),
      col("__n").as("__n1")) ++ groupCol.map(c => col(c).as("__g1")): _*)
    val b = withSh.select(Seq(col(idCol).as("id2"), col("__sh").as("__sh2"),
      col("__n").as("__n2")) ++ groupCol.map(c => col(c).as("__g2")): _*)
    val cond = groupCol.map(_ => col("id1") < col("id2") && col("__g1") === col("__g2"))
      .getOrElse(col("id1") < col("id2"))
    // Two-stage predicate, cheap first:
    //  1. size-ratio prune: J(A,B) >= t forces min(|A|,|B|) >=
    //     t·max(|A|,|B|) — integers only, runs before any set work;
    //  2. exact threshold test by integer cross-multiplication:
    //     I/(n1+n2−I) >= p/q  ⟺  q·I >= p·(n1+n2−I), with p/q the
    //     decimal rational the caller wrote (BigDecimal of t). No fp
    //     division per pair, no rounding at the boundary, and the
    //     intersect appears ONCE in the pushed join condition (a
    //     division-based re-filter would be pushed down a second time).
    // |A∪B| = |A|+|B|−|A∩B| for distinct shingle sets, so array_union
    // is never built.
    val (p, q) = thresholdRational(threshold)
    val sizePrune = least(col("__n1"), col("__n2")) * lit(q) >=
      greatest(col("__n1"), col("__n2")) * lit(p)
    val inter = size(array_intersect(col("__sh1"), col("__sh2"))).cast("long")
    val unionSz = (col("__n1") + col("__n2")).cast("long") - inter
    a.join(b, cond)
      .where(sizePrune && inter * lit(q) >= unionSz * lit(p) && unionSz > 0)
      .withColumn("similarity", inter.cast("double") / unionSz.cast("double"))
      .select(col("id1"), col("id2"), col("similarity"))
  }

  /**
   * PPJoin-style prefix-filtered exact Jaccard pairs — result-identical
   * to `jaccardPairs`, sub-quadratic candidate generation (the standard
   * fix for the exact path's O(n²), after Bayardo et al. "Scaling Up
   * All Pairs Similarity Search" / Xiao et al. PPJoin).
   *
   * Principle: order every shingle set by ascending global document
   * frequency (rarest first); if J(A,B) ≥ t then |A∩B| ≥ ⌈t·max(|A|,|B|)⌉,
   * and two sets with overlap ≥ α must share a token inside their first
   * (|·| − α + 1) tokens under ANY common total order. So joining the
   * length-(n − ⌈t·n⌉ + 1) prefixes on token finds every qualifying
   * pair; exact verification then runs only on those candidates.
   * Rarest-first ordering keeps the inverted-index buckets small, so
   * candidate count tracks the true-pair count, not n².
   *
   * Distributed shape: token-frequency aggregate + per-doc sort (narrow
   * shuffles), prefix inverted-index self-join on a single token key,
   * candidate-only verification joins. No all-pairs stage anywhere —
   * this survives unblocked corpora where `jaccardPairs` needs a
   * blocking key.
   */
  def prefixJaccardPairs(df: DataFrame, textCol: String, idCol: String,
      threshold: Double, shingleSize: Int = 1,
      groupCol: Option[String] = None): DataFrame = {
    val (sets, cands) = prefixStage(df, textCol, idCol, threshold, shingleSize, groupCol)
    // exact verification — the same integer cross-multiplied threshold
    // as jaccardPairs, on candidates only, over long-id sets
    val (p, q) = thresholdRational(threshold)
    val s1 = sets.select(col(idCol).as("id1"), col("__sorted").as("__s1"),
      col("__n").as("__n1"))
    val s2 = sets.select(col(idCol).as("id2"), col("__sorted").as("__s2"),
      col("__n").as("__n2"))
    val inter = size(array_intersect(col("__s1"), col("__s2"))).cast("long")
    val unionSz = (col("__n1") + col("__n2")).cast("long") - inter
    cands.join(s1, Seq("id1")).join(s2, Seq("id2"))
      .where(inter * lit(q) >= unionSz * lit(p) && unionSz > 0)
      .withColumn("similarity", inter.cast("double") / unionSz.cast("double"))
      .select(col("id1"), col("id2"), col("similarity"))
  }

  /** [[prefixJaccardPairs]]' candidate-generation stage: (sets, candidates). */
  private def prefixStage(df: DataFrame, textCol: String, idCol: String,
      threshold: Double, shingleSize: Int,
      groupCol: Option[String]): (DataFrame, DataFrame) = {
    require(threshold > 0.0 && threshold <= 1.0,
      s"prefix filtering requires 0 < threshold <= 1, got $threshold — at t=0 " +
        "disjoint sets qualify, which no overlap-based index can produce")
    val (p, q) = thresholdRational(threshold)
    val base = df.select(Seq(col(idCol), col(textCol)) ++ groupCol.map(col): _*)
      .withColumn("__sh", shingles(col(textCol), shingleSize))
      .where(size(col("__sh")) > 0)
    val tokens = base.select(Seq(col(idCol), explode(col("__sh")).as("__t")) ++
      groupCol.map(col): _*)
    val freq = tokens.groupBy(col("__t")).agg(count(lit(1)).as("__df"))
    // Token dictionary in canonical (freq, token) order, as LONG ids:
    // range-sort the vocabulary and stamp monotonically_increasing_id —
    // order-preserving (not dense, which is all the prefix principle
    // needs) and scalable, unlike a single-partition ranking window.
    // Downstream set work then runs on longs, not strings: smaller
    // shuffles, cheaper joins, cheaper intersects. Ids can jitter
    // across runs with range-boundary sampling, but every derived
    // quantity (order, sizes, intersections) is id-isomorphic, so the
    // OUTPUT is deterministic.
    val dict = freq
      .repartitionByRange(col("__df"), col("__t"))
      .sortWithinPartitions(col("__df"), col("__t"))
      .select(col("__t"), monotonically_increasing_id().as("__tid"))
    val aggs = sort_array(collect_list(col("__tid"))).as("__sorted") +:
      groupCol.map(c => first(col(c)).as(c)).toSeq
    // localCheckpoint (LAZY): the sets frame feeds THREE consumers
    // (the prefix index and both verify sides) — checkpointing
    // materializes it once, at the first ACTION (eager = false keeps
    // DataFrame construction side-effect-free: plan-only consumers,
    // e.g. explain, run no jobs). Checkpointing (NOT persist) is a
    // CORRECTNESS requirement here, not an optimization choice: the
    // lineage contains monotonically_increasing_id token ids
    // downstream of shuffles, which are NOT stable across
    // recomputation — a persist()-based cache recovering lost
    // partitions from lineage would re-number the dictionary for just
    // those partitions and silently intersect ids from two different
    // dictionaries. Losing a checkpointed executor fails the job
    // LOUDLY instead; clusters needing recoverability configure a
    // reliable checkpoint dir and use Dataset.checkpoint. Checkpoint
    // blocks live until the session ends (or the RDD is GC'd) — each
    // call pins one materialized copy of the token-set frame.
    val sets = tokens.join(dict, Seq("__t"))
      .groupBy(col(idCol))
      .agg(aggs.head, aggs.tail: _*)
      .withColumn("__n", size(col("__sorted")))
      .localCheckpoint(eager = false)
    // ⌈p·n/q⌉ via double floor — exact while p·n + q < 2^53 (p ≤ 10^6
    // from thresholdRational, so sets up to ~10^9 shingles stay exact)
    val minOverlap = floor((col("__n").cast("long") * p + (q - 1)).cast("double") / q)
      .cast("int")
    val prefixes = sets.select(Seq(col(idCol), col("__n"),
      posexplode(slice(col("__sorted"), lit(1), col("__n") - minOverlap + 1))) ++
      groupCol.map(col): _*)
      .withColumnRenamed("pos", "__i").withColumnRenamed("col", "__tid")
    val ca = prefixes.select(Seq(col(idCol).as("id1"), col("__tid"),
      col("__i").as("__i1"), col("__n").as("__n1")) ++
      groupCol.map(c => col(c).as("__g1")): _*)
    val cb = prefixes.select(Seq(col(idCol).as("id2"), col("__tid"),
      col("__i").as("__i2"), col("__n").as("__n2")) ++
      groupCol.map(c => col(c).as("__g2")): _*)
    // Candidate-stage pruning, cheapest first:
    //  • size-ratio: J ≥ t forces min(n1,n2)·q ≥ max(n1,n2)·p;
    //  • positional (PPJoin): a shared token at 0-based prefix
    //    positions (i1, i2) caps the overlap at 1 + min(n1−i1, n2−i2)−1,
    //    and J ≥ t needs (p+q)·O ≥ p·(n1+n2) — prune pairs whose cap
    //    can't reach it. Both run before the distinct, so duplicate
    //    candidates from multi-token prefix collisions stay narrow.
    val sizePrune = least(col("__n1"), col("__n2")) * lit(q) >=
      greatest(col("__n1"), col("__n2")) * lit(p)
    val overlapCap = lit(1) +
      least(col("__n1") - col("__i1") - 1, col("__n2") - col("__i2") - 1)
    val positional = overlapCap.cast("long") * lit(p + q) >=
      (col("__n1") + col("__n2")).cast("long") * lit(p)
    val keep = (col("id1") < col("id2")) && sizePrune && positional &&
      groupCol.map(_ => col("__g1") === col("__g2")).getOrElse(lit(true))
    val cands = ca.join(cb, Seq("__tid")).where(keep)
      .select(col("id1"), col("id2")).distinct()
    (sets, cands)
  }

  /**
   * Bitmap fast path for exact unigram Jaccard on bounded vocabularies:
   * each document's distinct-token set becomes a fixed-width bitmap
   * (bit i = vocabulary term i, alphabetical — one long when the
   * vocabulary fits 64 bits, an array of longs otherwise), and the
   * per-pair set work collapses to bitwise ops + popcounts instead of a
   * hash-set intersect (5× at sf0.1). Result-identical to
   * `jaccardPairs` (same set semantics, same integer threshold
   * predicate). Refuses vocabularies over `maxVocab` — beyond a few
   * thousand terms the bitmap outgrows the token sets and the hash path
   * wins. The vocabulary is a tiny aggregate collected once — not a
   * corpus collect.
   */
  def bitsetJaccardPairs(df: DataFrame, textCol: String, idCol: String,
      threshold: Double, groupCol: Option[String] = None,
      maxVocab: Int = 4096): DataFrame = {
    val toksCol = array_distinct(filter(split(lower(col(textCol)), graft.expressions.ShingleHashes.WsRegex),
      t => length(t) > 0))
    val vocab = df.select(explode(toksCol).as("__t")).distinct()
      .orderBy("__t").collect().map(_.getString(0))
    require(vocab.length <= maxVocab,
      s"bitmap fast path capped at $maxVocab vocabulary terms, found ${vocab.length}; " +
        "use jaccardPairs (beyond a few thousand terms the bitmap outgrows the sets)")
    val vocabLit = array(vocab.toIndexedSeq.map(lit): _*)
    val nWords = math.max(1, (vocab.length + 63) / 64)
    // 0-based vocabulary position; the Scala shiftleft() wrapper only
    // accepts a literal shift, the SQL builtin takes a column
    def pos(tok: Column): Column = (array_position(vocabLit, tok) - 1).cast("int")
    def bit(p: Column): Column = call_function("shiftleft", lit(1L), p % 64)

    // vocab <= 64: one long per doc, scalar bitwise ops per pair.
    // vocab  > 64: array<long> bitmap, popcounts summed over zipped words.
    val (mask, inter0, union0) =
      if (nWords == 1) {
        val m = aggregate(toksCol, lit(0L), (acc, t) => acc.bitwiseOR(bit(pos(t))))
        (m,
          (x: Column, y: Column) => bit_count(x.bitwiseAND(y)).cast("long"),
          (x: Column, y: Column) => bit_count(x.bitwiseOR(y)).cast("long"))
      } else {
        // positions computed ONCE per token (each an O(vocab) array
        // scan), then each word folds over the small int array — not
        // re-scanning the vocabulary nWords times per token
        val posArr = transform(toksCol, t => pos(t))
        val words = (0 until nWords).map { w =>
          aggregate(posArr, lit(0L), (acc, p) =>
            when((p / 64).cast("int") === w, acc.bitwiseOR(bit(p))).otherwise(acc))
        }
        def popSum(and: Boolean)(x: Column, y: Column): Column = aggregate(
          zip_with(x, y, (u, v) =>
            bit_count(if (and) u.bitwiseAND(v) else u.bitwiseOR(v)).cast("long")),
          lit(0L), (acc, v) => acc + v)
        (array(words: _*), popSum(and = true) _, popSum(and = false) _)
      }

    val masked = df.select(Seq(col(idCol), mask.as("__m")) ++ groupCol.map(col): _*)
    val a = masked.select(Seq(col(idCol).as("id1"), col("__m").as("__m1")) ++
      groupCol.map(c => col(c).as("__g1")): _*)
    val b = masked.select(Seq(col(idCol).as("id2"), col("__m").as("__m2")) ++
      groupCol.map(c => col(c).as("__g2")): _*)
    val cond = groupCol.map(_ => col("id1") < col("id2") && col("__g1") === col("__g2"))
      .getOrElse(col("id1") < col("id2"))
    val (p, q) = thresholdRational(threshold)
    val inter = inter0(col("__m1"), col("__m2"))
    val unionSz = union0(col("__m1"), col("__m2"))
    a.join(b, cond)
      .where(inter * lit(q) >= unionSz * lit(p) && unionSz > 0)
      .withColumn("similarity", inter.cast("double") / unionSz.cast("double"))
      .select(col("id1"), col("id2"), col("similarity"))
  }

  /** Survivors under the keep-min-id pair rule, given any pair frame
    * (id1 < id2 meaning id2 duplicates id1). */
  def survivors(df: DataFrame, idCol: String, pairs: DataFrame): DataFrame =
    df.join(pairs.select(col("id2").as(idCol)).distinct(), Seq(idCol), "left_anti")

  /**
   * MinHash-LSH near-dedup — the sub-quadratic scale path: codegen'd
   * MinHash signatures ([[graft.expressions.MinHashSig]], one pass over
   * the tokens) → banded bucket join (bands of r = numHashes/bands
   * consecutive slots, bucket = xxhash64 of the band slice; a pair
   * collides with probability 1 − (1 − J^r)^bands) → EXACT-Jaccard
   * verification of the candidates over distinct word shingles. Output
   * precision is exact; recall is the banding probability (≈0.87 at
   * J = t = 0.5 with 128/32, →1 above it). Seed pinned.
   *
   * Plan: the bucket join is a shuffled hash join (the corpus × bands
   * banded rows never broadcast); its distinct candidate pairs are
   * evaluated once, joined to both sides' `(id, text)` rows, and only
   * those candidate rows are shingled for the verify.
   *
   * Native replacement for the former spark.ml `HashingTF → MinHashLSH
   * → approxSimilarityJoin` chain: no ml-Vector UDT serialization, no
   * r=1 hash-table candidate explosion (ml ORs single-hash tables, so
   * every pair sharing ONE minhash value becomes a candidate; banding
   * with r=4 demands 4 consecutive matches), and the verify stage
   * reuses the engine's integer cross-multiplied threshold. ~1.4×
   * warm at the sf0.1 fixture; the structural win is the candidate
   * count at corpus scale, where r=1 tables explode.
   */
  def minhashPairs(df: DataFrame, textCol: String, idCol: String, threshold: Double,
      shingleSize: Int = 3, numHashes: Int = 128, bands: Int = 32,
      seed: Int = 42): DataFrame =
    selfPairs(minhashStage(df, textCol, idCol, shingleSize, numHashes, bands, seed),
      idCol, threshold)

  /**
   * The `bands` knob SIZED FROM MATH instead of folklore — the
   * datasketch-style (b, r) optimizer for [[minhashPairs]]'s banding:
   * one row per valid banding (every `bands` dividing `numHashes`,
   * the operator's own constraint), scoring the collision S-curve
   * P(s) = 1 − (1 − s^r)^b against the caller's `threshold`:
   *
   * - `fp_area` = ∫₀ᵗ P(s) ds — collision mass SPENT below the
   *   threshold (candidates the exact-Jaccard verify stage must
   *   reject: wasted shuffle + verify work, the quantity that
   *   explodes at r = 1 — spark.ml's hash-table shape);
   * - `fn_area` = ∫ₜ¹ (1 − P(s)) ds — true-duplicate mass the
   *   banding never surfaces (unfixable downstream: precision is
   *   exact, recall is this curve);
   * - `cost` = fpWeight·fp_area + fnWeight·fn_area, with `best`
   *   marking the argmin (ties to fewer bands). A dedup run that
   *   fears data loss weights fn higher; a budget-bound run weights
   *   fp.
   *
   * Both integrals are midpoint-rule quadrature on a uniform
   * `steps`-cell grid over [0, 1] (the cell holding `threshold` goes
   * to the side its MIDPOINT falls on — same rule both engines), each
   * grid evaluation micro-quantized BEFORE the sum (the [[TextAnalysis.lmScore]]
   * discipline: integer sums commute, so the frame is
   * partition-order-free and DuckDB replays it exactly — the gate row
   * is fully derivation-oracled, no golden). Uniform-s prior, the
   * datasketch convention: it scores the CURVE, not a corpus — pair
   * similarities aren't uniform in practice, which is why the output
   * ships both raw areas for callers who reweight by their own
   * similarity histogram.
   *
   * Driver cost: none — divisor enumeration is over numHashes ≤ 4096
   * ints; the divisors × steps grid (≤ a few M rows) evaluates
   * in-plan. Columns: (bands, rows_per_band, p_at_threshold, fp_area,
   * fn_area, cost, best).
   */
  def minhashTuneBands(spark: org.apache.spark.sql.SparkSession,
      numHashes: Int = 128, threshold: Double = 0.5,
      fpWeight: Double = 1.0, fnWeight: Double = 1.0,
      steps: Int = 1000): DataFrame = {
    require(numHashes >= 1 && numHashes <= 4096,
      s"numHashes must be in [1, 4096], got $numHashes")
    // threshold = 1 (the EXACT-duplicate regime) is a closed form, not
    // an error: P(1) = 1 for every banding, so fn mass is
    // definitionally 0 and the argmin is provably bands = 1 — the
    // cheapest candidate generator, with recall still 1 at J = 1
    // because identical sets hash to identical signatures and collide
    // under ANY banding. This is what anchors `dedup_minhash_auto` on
    // `dedup_minhash_exact`'s oracle.
    require(threshold > 0 && threshold <= 1,
      s"threshold must be in (0, 1], got $threshold")
    require(fpWeight >= 0 && fnWeight >= 0 && fpWeight + fnWeight > 0 &&
      java.lang.Double.isFinite(fpWeight) && java.lang.Double.isFinite(fnWeight),
      s"weights must be non-negative, finite, not both zero: ($fpWeight, $fnWeight)")
    require(steps >= 10 && steps <= 1000000, s"steps must be in [10, 1e6], got $steps")
    import spark.implicits._
    val divisors = (1 to numHashes).filter(numHashes % _ == 0)
      .map(b => (b, numHashes / b))
    val q = divisors.toDF("bands", "rows_per_band")
      .crossJoin(spark.range(steps).toDF("__i"))
      .withColumn("__s", (col("__i").cast("double") + 0.5) / steps)
      .withColumn("__pm", round(lit(1e6) * (lit(1.0) -
        pow(lit(1.0) - pow(col("__s"), col("rows_per_band").cast("double")),
          col("bands").cast("double")))).cast("long"))
      .groupBy("bands", "rows_per_band")
      .agg(
        sum(when(col("__s") < threshold, col("__pm")).otherwise(0L)).as("__fpm"),
        sum(when(col("__s") >= threshold, lit(1000000L) - col("__pm"))
          .otherwise(0L)).as("__fnm"))
    val costKey = lit(fpWeight) * col("__fpm").cast("double") +
      lit(fnWeight) * col("__fnm").cast("double")
    // a GLOBAL (unpartitioned) window is deliberate and safe here: it
    // ranks one row per divisor of numHashes — ≤ 31 rows at the 4096
    // cap — never corpus data
    val win = org.apache.spark.sql.expressions.Window
      .orderBy(costKey.asc, col("bands").asc)
    q.withColumn("__rn", row_number().over(win))
      .select(col("bands"), col("rows_per_band"),
        round(lit(1.0) - pow(lit(1.0) -
          pow(lit(threshold), col("rows_per_band").cast("double")),
          col("bands").cast("double")), 6).as("p_at_threshold"),
        round(col("__fpm").cast("double") / (1e6 * steps), 6).as("fp_area"),
        round(col("__fnm").cast("double") / (1e6 * steps), 6).as("fn_area"),
        round((lit(fpWeight) * col("__fpm").cast("double") +
          lit(fnWeight) * col("__fnm").cast("double")) / (1e6 * steps), 6)
          .as("cost"),
        (col("__rn") === 1).as("best"))
  }

  /** [[minhashPairs]] with the banding CHOSEN BY [[minhashTuneBands]]
    * instead of passed in — the knob closed into a loop: the tuner's
    * equal-weight argmin for (numHashes, threshold) picks `bands`
    * (a ≤ 31-row driver read of the tuner frame; weights exposed for
    * the fn-shy/fp-shy deployments). Everything else is minhashPairs
    * verbatim — at the defaults this provably selects bands = 32, the
    * hand-picked production config (spec'd). */
  def minhashPairsAuto(df: DataFrame, textCol: String, idCol: String,
      threshold: Double, shingleSize: Int = 3, numHashes: Int = 128,
      fpWeight: Double = 1.0, fnWeight: Double = 1.0,
      seed: Int = 42): DataFrame = {
    val bands = minhashTuneBands(df.sparkSession, numHashes, threshold,
        fpWeight, fnWeight)
      .where(col("best")).select("bands").head().getInt(0)
    minhashPairs(df, textCol, idCol, threshold, shingleSize, numHashes,
      bands, seed)
  }

  /**
   * Cross-corpus MinHash near-dup — pairs `(id_new, id_base)` where a
   * NEW document near-duplicates an EXISTING corpus document: the
   * incremental-ingest shape (dedup today's crawl against history,
   * without re-pairing history against itself). Same banding + exact
   * verify as [[minhashPairs]]. The corpus-side signatures are a pure
   * function of the text — build the history's [[MinhashIndex]] ONCE
   * with [[minhashIndex]] and pass it to the index overload, so the
   * recurring cost is banding the BATCH and probing.
   */
  def minhashPairsAcross(newDf: DataFrame, baseDf: DataFrame,
      textCol: String, idCol: String, threshold: Double,
      shingleSize: Int = 3, numHashes: Int = 128, bands: Int = 32,
      seed: Int = 42): DataFrame =
    minhashPairsAcross(
      minhashIndex(newDf, textCol, idCol, shingleSize, numHashes, bands, seed),
      minhashIndex(baseDf, textCol, idCol, shingleSize, numHashes, bands, seed),
      idCol, threshold)

  /** Index overload: probe a precomputed batch index against a
    * precomputed corpus index (both from [[minhashIndex]], which must
    * share parameters — enforced). */
  def minhashPairsAcross(newIdx: MinhashIndex, baseIdx: MinhashIndex,
      idCol: String, threshold: Double): DataFrame = {
    require(newIdx.params == baseIdx.params,
      s"minhash indexes built with different parameters cannot be joined: " +
        s"${newIdx.params} vs ${baseIdx.params}")
    verifyJaccard(candidates(newIdx, baseIdx, idCol, lit(true)), newIdx, baseIdx,
        idCol, threshold)
      .withColumnRenamed("id1", "id_new").withColumnRenamed("id2", "id_base")
  }

  /** Incremental batch dedup: rows of `newDf` that near-duplicate
    * neither the existing corpus nor an earlier (smaller-id) row of the
    * same batch — "dedup the increment within itself AND against
    * history". The batch's index is built ONCE and feeds both the
    * self-join and the cross-corpus probe. */
  def incrementalSurvivors(newDf: DataFrame, baseDf: DataFrame,
      textCol: String, idCol: String, threshold: Double,
      shingleSize: Int = 3, numHashes: Int = 128, bands: Int = 32,
      seed: Int = 42): DataFrame = {
    val sn = minhashIndex(newDf, textCol, idCol, shingleSize, numHashes, bands, seed)
    val sb = minhashIndex(baseDf, textCol, idCol, shingleSize, numHashes, bands, seed)
    val vsBase = minhashPairsAcross(sn, sb, idCol, threshold)
    val inBatch = selfPairs(sn, idCol, threshold)
    newDf
      .join(vsBase.select(col("id_new").as(idCol)).distinct(), Seq(idCol), "left_anti")
      .join(inBatch.select(col("id2").as(idCol)).distinct(), Seq(idCol), "left_anti")
  }

  /**
   * Eval-set decontamination — the pretraining hygiene step (GPT-3
   * App. C / Lee et al. 2022 / Dolma all remove training documents
   * that share a long word n-gram with an evaluation benchmark, so
   * test answers can't leak into the training set). Returns the rows
   * of `corpus` that share NO word n-gram with any `evalDf` document.
   *
   * Scale shape: the eval side is benchmarks — thousands of rows, not
   * corpus-scale — so its distinct n-gram hashes BROADCAST and the
   * corpus side never shuffles: explode corpus n-gram hashes →
   * broadcast inner join → distinct contaminated ids → left-anti
   * against the corpus. Both sides hash with the codegen'd
   * [[graft.expressions.ShingleHashes]] kernel (one pass per doc, the
   * same 64-bit gram identity the Jaccard/MinHash family shares) —
   * NOT a transform/concat_ws HOF pipeline, which executes as
   * CodegenFallback per element and measured 4.2× slower end-to-end
   * at sf0.1 (4.7s → 1.1s). Matching hashes instead of strings leaves the
   * CONTAMINATED-ID SET unchanged modulo 64-bit collisions (~1e-10
   * at benchmark gram counts — the same argument the winnow tier's
   * oracle makes), which is why the DuckDB oracle matches gram
   * STRINGS and still agrees on every surviving id. No driver
   * collect; the broadcast is planner-built.
   *
   * PRECONDITION: `idCol` must be non-null on every corpus row (the
   * as-of join's convention for its tie-break column). The
   * contaminated-id set is subtracted with a left-ANTI equi-join, and
   * SQL null never equi-joins — a null-id row would always survive
   * even when its text shares a gram with the eval set, silently
   * defeating the hygiene step. Rows are not filtered here (dropping
   * data behind the caller's back is worse); assign surrogate ids
   * upstream if the corpus key can be null.
   */
  def decontaminate(corpus: DataFrame, evalDf: DataFrame,
      textCol: String, idCol: String, n: Int = 13): DataFrame = {
    require(n >= 1, s"n-gram size must be >= 1, got $n")
    require(idCol != "__g", "decontaminate reserves '__g' for the gram hash column")
    val evalGrams = evalDf
      .select(explode(shingleHashes(col(textCol), n)).as("__g")).distinct()
    val contaminated = corpus
      .select(col(idCol), explode(shingleHashes(col(textCol), n)).as("__g"))
      .join(broadcast(evalGrams), "__g")
      .select(idCol).distinct()
    corpus.join(contaminated, Seq(idCol), "left_anti")
  }

  /**
   * Contamination ATTRIBUTION — the audit half of [[decontaminate]]:
   * one row per (corpus doc, eval doc) pair sharing at least one
   * word n-gram, with the count of DISTINCT shared grams. Every
   * published decontamination run reports this (GPT-3 Appendix C's
   * per-benchmark contamination tables; Dolma's decontamination
   * stats): "which benchmark leaked into which training doc, and how
   * hard" is the first question after "what got dropped" — and the
   * evidence for tuning `n` when a benchmark's phrasing is generic.
   *
   * Same scale shape as [[decontaminate]]: the eval side's distinct
   * (eval id, gram) pairs broadcast; the corpus explodes its per-doc
   * DISTINCT gram hashes (deduped inside the array — no shuffle) and
   * only MATCHING rows — contaminated spans, rare by construction —
   * reach the groupBy shuffle. The corpus never shuffles in bulk.
   * Counts are over 64-bit gram hashes; a within-doc hash collision
   * would undercount by one (probability ~ grams²/2⁶⁴ per doc —
   * vanishing; the DuckDB oracle counts gram STRINGS and agrees at
   * the gate). Non-null ids required, as in [[decontaminate]];
   * `idCol` and `evalIdCol` must be distinctly named.
   */
  def decontaminateReport(corpus: DataFrame, evalDf: DataFrame,
      textCol: String, idCol: String, evalIdCol: String, n: Int = 13): DataFrame = {
    require(n >= 1, s"n-gram size must be >= 1, got $n")
    require(idCol != evalIdCol,
      s"corpus id and eval id columns must have distinct names, both were '$idCol'")
    require(idCol != "__g" && evalIdCol != "__g",
      "decontaminateReport reserves '__g' for the gram hash column")
    val evalGrams = evalDf
      .select(col(evalIdCol), explode(shingleHashes(col(textCol), n)).as("__g")).distinct()
    corpus
      .select(col(idCol), explode(array_distinct(shingleHashes(col(textCol), n))).as("__g"))
      .join(broadcast(evalGrams), "__g")
      .groupBy(col(idCol), col(evalIdCol))
      .agg(count(lit(1)).as("n_shared_grams"))
  }

  /** Precomputed minhash artifacts for one corpus: banded signature
    * buckets + shingle sets, both pure functions of the text — the
    * history side of incremental dedup persists these instead of
    * re-hashing the corpus every batch. `texts` holds the corpus'
    * `(id, __text)` rows: the pair verify joins candidates to them and
    * hashes shingles for candidate rows only. */
  case class MinhashIndex private[operators] (
      banded: DataFrame, shingles: DataFrame, params: (Int, Int, Int, Int))(
      private[operators] val texts: DataFrame)

  /** Build a [[MinhashIndex]] (see [[minhashPairsAcross]]). */
  def minhashIndex(df: DataFrame, textCol: String, idCol: String,
      shingleSize: Int = 3, numHashes: Int = 128, bands: Int = 32,
      seed: Int = 42): MinhashIndex =
    minhashStage(df, textCol, idCol, shingleSize, numHashes, bands, seed)

  /** Self-join candidates + verify over one index (id1 < id2). */
  private def selfPairs(st: MinhashIndex, idCol: String, threshold: Double): DataFrame =
    verifyJaccard(candidates(st, st, idCol, col(s"a.$idCol") < col(s"b.$idCol")),
      st, st, idCol, threshold)

  /** Distinct `(id1, id2)` pairs of `a` and `b` rows sharing a band
    * bucket (and meeting `cond`): a SHUFFLED hash join on
    * `(__band, __key)`. The banded frame holds corpus × bands rows, so
    * it must never broadcast, which would collect all of them to the
    * driver; left to itself the planner broadcasts it whenever its size
    * estimate is under the broadcast threshold (12k docs × 32 bands
    * made a 48 MiB hashed relation). The hint pins the shuffle and,
    * unlike a sort-merge join, sorts neither side. In a self-join both
    * sides read one exchange. */
  private def candidates(a: MinhashIndex, b: MinhashIndex, idCol: String,
      cond: Column): DataFrame =
    a.banded.as("a").hint("shuffle_hash").join(b.banded.as("b"),
        col("a.__band") === col("b.__band") && col("a.__key") === col("b.__key") && cond)
      .select(col(s"a.$idCol").as("id1"), col(s"b.$idCol").as("id2"))
      .distinct()

  /** Shared signature/banding/shingle stage of the minhash family. */
  private def minhashStage(df: DataFrame, textCol: String, idCol: String,
      shingleSize: Int, numHashes: Int, bands: Int, seed: Int): MinhashIndex = {
    require(bands > 0 && numHashes % bands == 0,
      s"bands ($bands) must divide numHashes ($numHashes)")
    val r = numHashes / bands
    val sigCol = ColumnBridge.column(graft.expressions.MinHashSig(
      ColumnBridge.expression(col(textCol)), numHashes, shingleSize, seed))
    // materialize (id, signature) ONCE — the frame can feed both sides
    // of a self-join, and without pinning it the signature kernel
    // re-evaluates per branch. Lazy localCheckpoint: construction runs
    // no job; content is a deterministic pure function of the input.
    val sigd = df.select(col(idCol), sigCol.as("__sig"))
      .where(size(col("__sig")) > 0)
      .localCheckpoint(false)
    val texts = df.select(col(idCol), col(textCol).as("__text"))
    // explode the band INDEX first, then hash the slice in an ordinary
    // projection — keeping xxhash64(slice(...)) out of a transform()
    // lambda keeps it in whole-stage codegen (HOF lambdas are
    // CodegenFallback, the very cost ShingleHashes exists to avoid)
    val banded = sigd.select(col(idCol), col("__sig"),
        explode(sequence(lit(0), lit(bands - 1))).as("__band"))
      .select(col(idCol), col("__band"),
        xxhash64(slice(col("__sig"), col("__band") * lit(r) + lit(1), lit(r)))
          .as("__key"))
    MinhashIndex(banded,
      texts.select(col(idCol), shingleHashes(col("__text"), shingleSize, seed).as("__sh")),
      (shingleSize, numHashes, bands, seed))(texts)
  }

  /** Distinct word-shingle set as sorted 64-bit hashes, from the same
    * codegen'd kernel family as the signature — NOT a
    * transform/concat_ws HOF pipeline, which executes as
    * CodegenFallback at ~50µs per shingle (see ShingleHashes docs). */
  private def shingleHashes(text: Column, shingleSize: Int, seed: Int = 42): Column =
    ColumnBridge.column(graft.expressions.ShingleHashes(
      ColumnBridge.expression(text), shingleSize, seed))

  /** Exact-Jaccard verification of candidate pairs — integer
    * cross-multiplied threshold (no fp division at the boundary);
    * |A∪B| = |A|+|B|−I. The candidates are joined to the `(id, text)`
    * rows of each side and shingle sets are hashed ABOVE those joins,
    * so only candidate rows are ever shingled and the candidate frame
    * is evaluated once: the verify cost tracks the candidate count
    * (which tracks true pairs), not the corpus. A document in several
    * pairs is shingled once per pair. */
  private def verifyJaccard(cands: DataFrame, left: MinhashIndex, right: MinhashIndex,
      idCol: String, threshold: Double): DataFrame = {
    require(threshold > 0 && threshold <= 1,
      s"threshold must be in (0, 1], got $threshold")
    val (p, q) = thresholdRational(threshold)
    val (shingleSize, _, _, seed) = left.params
    val inter = size(array_intersect(col("__sh1"), col("__sh2"))).cast("long")
    val unionSz = (size(col("__sh1")) + size(col("__sh2"))).cast("long") - inter
    cands
      .join(left.texts.select(col(idCol).as("id1"), col("__text").as("__t1")), "id1")
      .join(right.texts.select(col(idCol).as("id2"), col("__text").as("__t2")), "id2")
      // the one-row generator is a barrier the Jaccard filter is not
      // pushed through: pushed into the join condition, it would run
      // the kernel once per reference to a shingle set
      .select(col("id1"), col("id2"), inline(array(struct(
        shingleHashes(col("__t1"), shingleSize, seed).as("__sh1"),
        shingleHashes(col("__t2"), shingleSize, seed).as("__sh2")))))
      .withColumn("__i", inter).withColumn("__u", unionSz)
      .where(col("__u") > 0 && col("__i") * lit(q) >= col("__u") * lit(p))
      .select(col("id1"), col("id2"),
        (col("__i").cast("double") / col("__u")).as("similarity"))
  }

  /**
   * Transitive duplicate groups from a pair frame: iterative min-label
   * propagation (connected-components over the dup graph). The
   * single-pass rule drops every id that appears as a pair's id2; this
   * instead assigns every member of a chain a~b~c the component
   * representative min id — the semantics to use when near-dup groups
   * must collapse to exactly one survivor per COMPONENT, with
   * membership decided transitively rather than per matched pair.
   *
   * Each iteration is one join + one aggregation over the EDGE set (not
   * the corpus); convergence needs at most diameter(graph) iterations
   * and near-dup graphs are shallow in practice. `localCheckpoint`
   * truncates lineage so plans stay bounded. Returns (id, rep).
   */
  def duplicateComponents(pairs: DataFrame, maxIter: Int = 30,
      maxDriverEdges: Long = 4000000L): DataFrame = {
    // NULL ids carry no identity — an edge touching one cannot merge
    // anything (and the driver path's getLong would silently read NULL
    // as 0, corrupting doc 0's component). Drop them up front so both
    // execution paths see the same graph.
    val edges = pairs.select(col("id1").as("src"), col("id2").as("dst"))
      .where(col("src").isNotNull && col("dst").isNotNull)
      .union(pairs.select(col("id2").as("src"), col("id1").as("dst"))
        .where(col("src").isNotNull && col("dst").isNotNull))
      .distinct().localCheckpoint()
    // Adaptive execution strategy, same spirit as Spark's own
    // broadcast-join threshold: the EDGE set is pair-sized (≪ corpus —
    // near-dup pairs, not rows), so when it fits comfortably on the
    // driver a single union-find pass replaces ~diameter iterative
    // jobs, each of which costs a join + aggregation + convergence
    // check. Long ids only (the engine's id convention); anything else
    // falls through to the distributed loop. Result is IDENTICAL:
    // min-id component representative either way (spec'd equal).
    val idTypesAreLong = edges.schema.fields.forall(
      _.dataType == org.apache.spark.sql.types.LongType)
    // one direction suffices for union-find: collect src <= dst only
    // (src == dst keeps isolated self-loop nodes in the label set),
    // halving driver transfer; maxDriverEdges therefore caps
    // UNDIRECTED pairs
    lazy val undirected = edges.where(col("src") <= col("dst")).localCheckpoint(false)
    val nEdges = if (idTypesAreLong) undirected.count() else Long.MaxValue
    if (idTypesAreLong && nEdges > 0 && nEdges <= maxDriverEdges) {
      val parent = new java.util.HashMap[Long, Long]()
      def find(x: Long): Long = {
        var r = x
        while (parent.get(r) != r) r = parent.get(r)
        var c = x // path compression
        while (parent.get(c) != r) { val nxt = parent.get(c); parent.put(c, r); c = nxt }
        r
      }
      undirected.collect().foreach { row =>
        val a = row.getLong(0); val b = row.getLong(1)
        parent.putIfAbsent(a, a); parent.putIfAbsent(b, b)
        val ra = find(a); val rb = find(b)
        // union by MIN id so the root IS the component representative
        if (ra < rb) parent.put(rb, ra) else if (rb < ra) parent.put(ra, rb)
      }
      val out = new scala.collection.mutable.ArrayBuffer[(Long, Long)](parent.size)
      parent.keySet().forEach(id => out += ((id, find(id))))
      val spark = pairs.sparkSession
      import spark.implicits._
      return out.toSeq.toDF("id", "rep")
    }
    var labels = edges.select(col("src").as("id")).distinct()
      .withColumn("rep", col("id"))
    var converged = false
    var iter = 0
    while (!converged && iter < maxIter) {
      // candidate rep per node: min over own rep and neighbors' reps
      val neighborReps = edges.join(labels.withColumnRenamed("id", "dst"), "dst")
        .groupBy(col("src").as("id")).agg(min(col("rep")).as("__nrep"))
      val updated = labels.join(neighborReps, Seq("id"), "left")
        .select(col("id"), least(col("rep"), coalesce(col("__nrep"), col("rep"))).as("rep"))
        .localCheckpoint()
      converged = updated.join(labels.withColumnRenamed("rep", "__old"), "id")
        .where(col("rep") =!= col("__old")).isEmpty
      labels = updated
      iter += 1
    }
    if (!converged) throw new IllegalStateException(
      s"duplicate-component propagation did not converge in $maxIter iterations " +
        "(duplicate graph diameter exceeds the cap) — raise maxIter; returning " +
        "partial labels would silently split components")
    labels
  }

  /** Survivors under full transitive closure: one representative (min
    * id) per duplicate component, plus every row not in any pair. */
  def transitiveSurvivors(df: DataFrame, idCol: String, pairs: DataFrame): DataFrame = {
    val comps = duplicateComponents(pairs)
    val dropped = comps.where(col("id") =!= col("rep")).select(col("id").as(idCol))
    df.join(dropped, Seq(idCol), "left_anti")
  }

  /** Embedding-cosine near-dup pairs — semantic dedup over an embedding
    * column; exact baseline (see SimJoin.approxCosineSelfJoin for the
    * LSH-pruned variant). */
  def embeddingPairs(df: DataFrame, embCol: String, idCol: String,
      threshold: Double): DataFrame =
    SimJoin.thresholdSelfJoin(df.where(col(embCol).isNotNull), idCol, embCol, threshold)

  /** SemDeDup-style WITHIN-CLUSTER near-dup pairs (Abbas et al. 2023:
    * cluster the embeddings, then prune near-duplicates only inside
    * each cluster) — the published semantic-dedup recipe, composed
    * from pieces this repo already ships: the cluster assignment IS an
    * [[IvfIndex]]'s cell column (same frozen seed-pinned quantizer the
    * ANN tier serves from — build once, dedup AND search against it),
    * and the within-cell prune is [[SimJoin.thresholdSelfJoin]]
    * blocked on `cell`. Versus the pairwise-global [[embeddingPairs]]
    * (which at corpus scale is n²/2 candidates, or LSH-pruned with
    * tuned knobs), the cell blocking caps candidates at Σ n_c²/2 —
    * nlist× under all-pairs for balanced cells (measured at r14 by the
    * removed ScaleProbe `semdedup` mode,
    * `git show e105133:src/main/scala/graft/ScaleProbe.scala`,
    * including the zipf-skewed case where `capCells` repairs the hot
    * cell first).
    *
    * Pair semantics match [[embeddingPairs]] RESTRICTED to same-cell
    * pairs: at `nlist = 1` the composition provably degenerates to the
    * exact pairwise operator (one cell = no restriction — the oracled
    * gate row), and since cross-cell pairs are the ones a coarser
    * quantizer would also separate, pairs(semdedup) ⊆ pairs(exact)
    * always — so survivors are a SUPERSET of the exact path's (spec'd:
    * the one-sided direction that never over-deletes). */
  def semanticPairs(idx: IvfIndex, idCol: String, threshold: Double): DataFrame =
    SimJoin.thresholdSelfJoin(idx.indexed, idCol, idx.embCol, threshold,
      groupCol = Some("cell"))

  /** [[semanticPairs]] + deterministic keep-one: min id per duplicate
    * component ([[transitiveSurvivors]] — the same policy every other
    * dedup tier uses), plus every row never in a pair (null embeddings
    * included: they join no pair and always survive). `df` must be the
    * corpus the index was built over. */
  def semanticDedup(df: DataFrame, idx: IvfIndex, idCol: String,
      threshold: Double): DataFrame =
    transitiveSurvivors(df, idCol, semanticPairs(idx, idCol, threshold))

  /** SemDeDup's CENTROID-SCREEN variant (r14 VERDICT #2) — the
    * literal Abbas et al. 2023 prune: instead of pairing rows within a
    * cell (Σ n_c²/2 candidates — [[semanticPairs]]), score each row's
    * cosine TO ITS OWN CELL CENTROID once and collapse every row
    * inside the ε-ball (sim ≥ 1 − eps) to the cell's min id. Cost is
    * O(n) scores + one nlist-bounded aggregate — no pairwise join at
    * all, the scale-saver exactly where cells run hot (a 10M-row cell
    * is 10M scores here vs 5·10¹³ candidate pairs). The trade: two
    * rows both near the centroid count as duplicates of each other
    * even if they sit on opposite sides (triangle inequality bounds
    * their true angle by 2·arccos(1 − eps)) — the published recipe's
    * documented coarseness, chosen when the pairwise candidate count
    * is the binding constraint. Centroids broadcast (nlist × d
    * floats); the ball aggregate's min-id table is nlist-bounded and
    * broadcasts back, so the only corpus-wide movement is the final
    * anti-join. Null embeddings join no ball and always survive. */
  def semanticDedupByCentroid(df: DataFrame, idx: IvfIndex, idCol: String,
      eps: Double): DataFrame = {
    require(eps > 0 && eps <= 1,
      s"eps must be in (0, 1] (ball = cosine >= 1 - eps), got $eps")
    // refuse-don't-wedge (r15 ADVICE): the screen rides `cell` from
    // the index plus two broadcast-join temps on the caller's frame —
    // an input already carrying them would fail with an ambiguous-
    // reference AnalysisException (or bind the wrong cell column)
    // instead of the family's named-columns message
    val clash = df.columns.toSet.intersect(Set("cell", "__cent", "__min"))
    require(clash.isEmpty,
      s"semanticDedupByCentroid reserves column name(s) ${clash.mkString(", ")} — " +
        "rename them on the input frame")
    val spark = df.sparkSession
    import spark.implicits._
    val cents = idx.centroidVectors.zipWithIndex
      .map { case (v, i) => (i, v.toSeq) }.toSeq.toDF("cell", "__cent")
    def sim = graft.functions.vectors.cosine_similarity(
      col(idx.embCol), col("__cent"))
    // pass 1: per-cell min id among ball members — map-combined down
    // to nlist rows, nothing corpus-sized moves
    val mins = idx.indexed.join(broadcast(cents), "cell")
      .where(sim >= lit(1.0) - lit(eps))
      .groupBy("cell").agg(min(col(idCol)).as("__min"))
    // pass 2: keep = outside the ball OR the cell keeper — a pure
    // map-side filter against the two broadcast tables, so the WHOLE
    // operator runs zero corpus shuffles (the previous shape
    // anti-joined a losers frame on the id key — a corpus-wide
    // shuffle the nlist-bounded mins table makes unnecessary)
    val kept = idx.indexed.join(broadcast(cents), "cell")
      .join(broadcast(mins), Seq("cell"), "left")
      .where(sim < lit(1.0) - lit(eps) ||
        col("__min").isNull || col(idCol) === col("__min"))
      .drop("cell", "__cent", "__min")
    // null-embedding rows never index and always survive
    kept.unionByName(df.where(col(idx.embCol).isNull), allowMissingColumns = true)
      .select(df.columns.map(col).toIndexedSeq: _*)
  }

  /** [[semanticPairs]] with nprobe-style MULTI-ASSIGNMENT (r14 VERDICT
    * #6) — the boundary-recall knob: cross-cell near-dup pairs are
    * invisible to single-assignment SemDeDup by design (the documented
    * under-prune); here each row pairs inside its `nprobe` NEAREST
    * cells ([[graft.expressions.NearestCells]], map-side like the
    * single assignment), so a pair split by a cell boundary is
    * recovered whenever the two rows share any of their nprobe cells.
    * Candidates grow ≤ nprobe²× per cell-pair overlap (measured at r15
    * against planted boundary pairs by the removed ScaleProbe
    * `semdedupnprobe` mode, `git show e105133:src/main/scala/graft/ScaleProbe.scala`);
    * `nprobe = 1` is provably the single-assignment operator (spec'd).
    * Pairs found in several shared cells dedup to one row. */
  def semanticPairsMulti(df: DataFrame, centroidVectors: Array[Array[Float]],
      embCol: String, idCol: String, threshold: Double,
      nprobe: Int): DataFrame = {
    val multi = IvfIndex.assignWithCentroidsMulti(df, embCol, centroidVectors, nprobe)
    SimJoin.thresholdSelfJoin(multi, idCol, embCol, threshold,
      groupCol = Some("cell")).distinct()
  }

  /** [[semanticPairsMulti]] folded to transitive survivors — the
    * [[semanticDedup]] policy with the recall knob. */
  def semanticDedupMulti(df: DataFrame, centroidVectors: Array[Array[Float]],
      embCol: String, idCol: String, threshold: Double,
      nprobe: Int): DataFrame =
    transitiveSurvivors(df, idCol,
      semanticPairsMulti(df, centroidVectors, embCol, idCol, threshold, nprobe))

  /** Fresh-batch-vs-retained-corpus near-dup pairs WITHIN the frozen
    * quantizer's cells — the cross half of incremental SemDeDup. The
    * fresh batch assigns to `baseIdx`'s centroids map-side (the
    * [[IvfIndex.addBatch]] frozen-artifact contract: assignment is a
    * pure function of (vector, centroids), so fresh and base land in
    * comparable cells by construction), then joins the base corpus on
    * the cell key under the exact cosine re-score. Emits
    * `(id_new, id_base, similarity)`. */
  def semanticPairsAcross(freshDf: DataFrame, baseIdx: IvfIndex,
      idCol: String, threshold: Double): DataFrame = {
    val fresh = IvfIndex.withCentroids(freshDf, baseIdx.embCol, baseIdx.centroidVectors)
      .indexed.select(col(idCol).as("id_new"),
        col(baseIdx.embCol).as("__emb_new"), col("cell"))
    val base = baseIdx.indexed.select(col(idCol).as("id_base"),
      col(baseIdx.embCol).as("__emb_base"), col("cell"))
    fresh.join(base, "cell")
      .withColumn("similarity",
        graft.functions.vectors.similarity(col("__emb_new"), col("__emb_base"), "cosine"))
      .where(col("similarity") >= threshold)
      .select(col("id_new"), col("id_base"), col("similarity"))
  }

  /** Duplicated-span AUDIT frame for EXACT SUBSTRING dedup (Lee et al.
    * 2022, "Deduplicating Training Data Makes Language Models Better"
    * — ExactSubstr, the published rung between paragraph dedup, which
    * needs duplicates to align on separator-carved units, and
    * winnowing, which is approximate): every token span of a document
    * whose content also appears EARLIER in the corpus, as merged
    * half-open token-index intervals `(idCol, span_start, span_end)`.
    *
    * Mechanics: positional k-gram hashes (one codegen pass,
    * [[graft.expressions.PositionalShingleHashes]] — the
    * Jaccard-family tokenize: lowercase, pinned whitespace class), a
    * gram occurrence is DUPLICATED if its gram occurs anywhere else
    * (count > 1) and it is not the corpus-wide FIRST occurrence (the
    * min-(id, pos) struct — the paragraph tier's total-order winner,
    * deterministic where the reference implementation's "keep one
    * arbitrarily" is a race); marked occurrences' `[pos, pos+k)`
    * intervals merge per doc with one ordered window (no ×k explode at
    * this stage — the island trick bounds the work at one row per
    * marked gram). Scale shape: one gram-key shuffle (map-combined
    * count+min) + one doc-key window; gram identity is the 64-bit
    * accept-the-hash argument every sibling tier makes.
    */
  def duplicateSpans(df: DataFrame, textCol: String, idCol: String,
      k: Int = 13, hotGramCap: Long = 1L << 20): DataFrame = {
    require(k >= 2, s"span gram size must be >= 2 tokens, got $k " +
      "(k = 1 would delete every repeated word — vocabulary, not duplication)")
    require(hotGramCap >= 2, s"hotGramCap must be >= 2, got $hotGramCap")
    val grams = positionalGramFrame(df, textCol, idCol, k)
    mergeSpanIslands(markBatchNonWinners(grams, hotGramCap), k)
      .select(col("__did").as(idCol), col("span_start"), col("span_end"))
  }

  /** The batch-internal winner rule on a positional-gram frame: every
    * occurrence of a gram seen more than once EXCEPT the
    * min-(__did, __pos) winner, as marked `(__did, __pos)` rows —
    * shared by [[duplicateSpans]] and the batch-internal half of both
    * ingest shapes.
    *
    * HOT-GRAM split (r14 VERDICT #5): the enrich join below shuffles
    * every occurrence of a gram into ONE partition of the __gh key —
    * a 10M-occurrence boilerplate gram is one straggler task at
    * corpus scale. Grams past `hotGramCap` occurrences instead mark
    * through a BROADCAST of their (gram, winner) rows — occurrences
    * stay in their scan partitions, no key-skewed shuffle — and a
    * broadcast anti-join keeps them OUT of the cold shuffle so the
    * skew never reaches it. The hot side is bounded by construction:
    * at most totalGrams / hotGramCap distinct grams qualify.
    * Decisions are identical on both paths (same winner rule); the
    * three dupGrams consumers share one ReusedExchange of the gram
    * aggregation. The balance was measured at r15 by the removed
    * ScaleProbe `substrhot` mode,
    * `git show e105133:src/main/scala/graft/ScaleProbe.scala`. */
  private def markBatchNonWinners(grams: DataFrame, hotGramCap: Long): DataFrame = {
    val dupGrams = grams.groupBy("__gh")
      .agg(count(lit(1)).as("__c"), min(struct(col("__did"), col("__pos"))).as("__w"))
      .where(col("__c") > 1)
    // The hot side is read through ONE renamed projection shared by
    // both branches (r21 optimization): a bare key-only anti-join
    // prunes its broadcast to a count-only aggregation — its OWN
    // corpus-wide gram pass, distinct from the count+min aggregation
    // markedHot broadcasts. Renaming once and referencing __hc/__hw in
    // the anti condition (always true for hot rows: c > cap ≥ 2 and
    // the min-struct winner is never NULL, so the anti semantics are
    // exactly the key-equality anti) defeats that pruning and makes
    // the two broadcast subtrees canonically identical — ONE shared
    // exchange at runtime instead of two gram aggregation passes
    // (plan diff: 5 corpus-wide gram Generates → 4). The renames also
    // keep the self-join lineage unambiguous.
    val hotB = broadcast(dupGrams.where(col("__c") > hotGramCap)
      .select(col("__gh").as("__hgh"), col("__c").as("__hc"),
        col("__w").as("__hw")))
    val cold = dupGrams.where(col("__c") <= hotGramCap)
    val markedHot = grams.join(hotB, col("__gh") === col("__hgh"))
      .where(struct(col("__did"), col("__pos")) =!= col("__hw"))
      .select(col("__did"), col("__pos"))
    val markedCold = grams
      .join(hotB, col("__gh") === col("__hgh") &&
        col("__hc") > lit(1) && col("__hw").isNotNull, "left_anti")
      .join(cold, "__gh")
      .where(struct(col("__did"), col("__pos")) =!= col("__w"))
      .select(col("__did"), col("__pos"))
    markedHot.unionByName(markedCold)
  }

  /** One codegen pass to positional k-gram hashes: `(__did, __pos,
    * __gh)` — the shared front of every substring-tier operator. */
  private def positionalGramFrame(df: DataFrame, textCol: String,
      idCol: String, k: Int): DataFrame =
    df.select(col(idCol).as("__did"),
      posexplode(ColumnBridge.column(graft.expressions.PositionalShingleHashes(
        ColumnBridge.expression(col(textCol)), k))).as(Seq("__pos", "__gh")))

  /** Merge marked gram occurrences `(__did, __pos)` into half-open
    * token spans per doc — one ordered window (the island trick:
    * work bounded at one row per marked gram, never ×k). */
  private def mergeSpanIslands(marked: DataFrame, k: Int): DataFrame = {
    val byPos = Window.partitionBy("__did").orderBy("__pos")
    val prevMax = max(col("__pos") + lit(k))
      .over(byPos.rowsBetween(Window.unboundedPreceding, -1))
    marked
      .withColumn("__new",
        when(prevMax.isNull || col("__pos") > prevMax, 1).otherwise(0))
      .withColumn("__isl", sum(col("__new")).over(byPos))
      .groupBy(col("__did"), col("__isl"))
      .agg(min("__pos").as("span_start"), (max(col("__pos")) + lit(k)).as("span_end"))
      .select(col("__did"), col("span_start"), col("span_end"))
  }

  /** EXACT SUBSTRING dedup — excise every [[duplicateSpans]] interval:
    * the corpus-wide FIRST occurrence of any duplicated k-token span
    * survives in place UNLESS its tokens are covered by an overlapping
    * marked span of a DIFFERENT duplicated gram (the inherent
    * ExactSubstr overlap interaction — e.g. gram A's winner occurrence
    * sitting inside gram B's non-winner island is excised with the
    * island, so content duplicated under two overlapping grams can
    * vanish entirely; deterministic, and exactly what the oracle
    * replays); every later occurrence's tokens are removed
    * and the document reassembles from its surviving tokens
    * (space-joined — the tokenizer-normalized form, like every
    * token-stream operator; span identity is case-insensitive, the
    * Jaccard-family convention, while surviving text keeps its
    * original case). Documents with NO duplicated span keep their
    * text BYTE-IDENTICAL (they never re-assemble); a fully-duplicated
    * document stays as a row with empty text — dropping rows behind
    * the caller's back is the one thing a span-level operator must
    * not do. Docs under k tokens carry no gram and are untouched.
    * Coverage explodes only the MERGED islands (Σ island lengths ≤
    * corpus tokens — never marked-grams × k). */
  def removeDuplicateSpans(df: DataFrame, textCol: String, idCol: String,
      k: Int = 13): DataFrame =
    exciseSpans(df, duplicateSpans(df, textCol, idCol, k), textCol, idCol)

  /** Excise `(idCol, span_start, span_end)` token intervals from
    * `df` — the reassembly half shared by [[removeDuplicateSpans]]
    * and [[removeDuplicateSpansAcross]]. Spans must be merged
    * (non-overlapping per doc), as both span producers emit. */
  private def exciseSpans(df: DataFrame, spans: DataFrame,
      textCol: String, idCol: String): DataFrame = {
    val clash = df.columns.toSet.intersect(Set("__did", "__pos", "__tok", "__newtext"))
    require(clash.isEmpty,
      s"removeDuplicateSpans reserves column(s) ${clash.mkString(", ")}")
    val covered = spans
      .select(col(idCol).as("__did"),
        explode(sequence(col("span_start"), col("span_end") - 1)).as("__pos"))
    val touched = covered.select("__did").distinct()
    // original-case tokens, positions indexed AFTER the empty-drop —
    // the same indexing PositionalShingleHashes' tokenize produces
    // (lowercasing never changes the split)
    val toks = df.select(col(idCol).as("__did"),
        posexplode(filter(split(col(textCol), TextAnalysis.Ws),
          t => length(t) > 0)).as(Seq("__pos", "__tok")))
      .join(touched, "__did") // untouched docs never re-assemble
    val rebuilt = touched.join(
      toks.join(covered, Seq("__did", "__pos"), "left_anti")
        .groupBy("__did")
        .agg(array_join(transform(
          array_sort(collect_list(struct(col("__pos"), col("__tok")))),
          s => s.getField("__tok")), " ").as("__newtext")),
      Seq("__did"), "left")
    df.join(rebuilt.select(col("__did").as(idCol),
        coalesce(col("__newtext"), lit("")).as("__newtext")), Seq(idCol), "left")
      .withColumn(textCol,
        when(col("__newtext").isNotNull, col("__newtext")).otherwise(col(textCol)))
      .drop("__newtext")
  }

  /** The DISTINCT k-gram hashes of a corpus slice — the substring
    * tier's store-delta frame (the [[paragraphHashFrame]] analog):
    * 8 bytes of state per distinct gram, absorbed into the frozen
    * gram store an ingest stream screens against. */
  def substringGramFrame(df: DataFrame, textCol: String, idCol: String,
      k: Int = 13): DataFrame =
    positionalGramFrame(df, textCol, idCol, k).select("__gh").distinct()

  /** INCREMENTAL exact-substring spans — the ingest shape (the
    * [[incrementalSurvivors]] contract on the substring tier): the
    * duplicated spans of a FRESH batch against a FROZEN gram store
    * (`baseGrams`, a [[substringGramFrame]] union — every gram the
    * corpus has already shipped) AND against itself, without
    * re-marking the base corpus. A fresh gram occurrence is duplicated
    * if its gram is IN THE STORE (the store holds the winner — earlier
    * arrivals beat every fresh occurrence, the paragraph-Across rule
    * where arrival order replaces id order) or if it is a non-winner
    * of the batch-internal min-(__did, __pos) rule on a gram the store
    * has not seen. Scale shape: the store probe is a gram-key
    * semi/anti split (8-byte keys both sides — no positions, no text
    * through the shuffle) and the batch-internal half is
    * [[duplicateSpans]]' arithmetic on the batch alone; state is
    * 8 bytes per distinct corpus gram. Draining batches through this
    * rule equals the batch [[duplicateSpans]] on the concatenation
    * whenever batches arrive in id order (spec'd — the
    * dedupParagraphsAcross convention). */
  def duplicateSpansAcross(freshDf: DataFrame, baseGrams: DataFrame,
      textCol: String, idCol: String, k: Int = 13,
      hotGramCap: Long = 1L << 20): DataFrame = {
    require(k >= 2, s"span gram size must be >= 2 tokens, got $k " +
      "(k = 1 would delete every repeated word — vocabulary, not duplication)")
    require(hotGramCap >= 2, s"hotGramCap must be >= 2, got $hotGramCap")
    require(baseGrams.columns.contains("__gh"),
      "baseGrams needs the `__gh` column a substringGramFrame produced")
    val grams = positionalGramFrame(freshDf, textCol, idCol, k)
    val store = baseGrams.select("__gh")
    // store hit ⇒ every fresh occurrence is a duplicate (the winner
    // lives in the base corpus)
    val markedVsStore = grams.join(store, Seq("__gh"), "left_semi")
      .select(col("__did"), col("__pos"))
    // store miss ⇒ the batch-internal winner rule decides (sharing the
    // batch operator's hot-gram broadcast split — a first-arrival
    // boilerplate gram is exactly as skewed at ingest as in batch)
    val freshOnly = grams.join(store, Seq("__gh"), "left_anti")
    mergeSpanIslands(
      markedVsStore.unionByName(markBatchNonWinners(freshOnly, hotGramCap)), k)
      .select(col("__did").as(idCol), col("span_start"), col("span_end"))
  }

  /** [[duplicateSpansAcross]] + the [[removeDuplicateSpans]] excise:
    * the fresh batch's documents with every store-or-batch-duplicated
    * span removed (same reassembly contract — untouched docs stay
    * byte-identical, fully-duplicated docs become empty-text rows). */
  def removeDuplicateSpansAcross(freshDf: DataFrame, baseGrams: DataFrame,
      textCol: String, idCol: String, k: Int = 13,
      hotGramCap: Long = 1L << 20): DataFrame =
    exciseSpans(freshDf,
      duplicateSpansAcross(freshDf, baseGrams, textCol, idCol, k, hotGramCap),
      textCol, idCol)

  /** The gram store as a `(__h1, __h2)` 128-bit frame — the
    * [[paragraphHashFrame]] analog feeding a [[BloomStore]] delta
    * build (`__h1` is the positional gram's own 64-bit hash, `__h2` a
    * salted second hash of it — the probe-pair convention the Bloom
    * tier shares). */
  def substringGramHashFrame(df: DataFrame, textCol: String, idCol: String,
      k: Int = 13): DataFrame =
    positionalGramFrame(df, textCol, idCol, k)
      .select(col("__gh").as("__h1"),
        xxhash64(lit(ParaHashSalt), col("__gh")).as("__h2"))
      .distinct()

  /** [[duplicateSpansAcross]] against a BOUNDED-memory [[BloomStore]]
    * of gram hashes — the substring tier's Bloom rung (the exact gram
    * store grows 8 B per distinct corpus gram forever — at 100 TB
    * that is TB-scale state reshuffled into every batch's semi-join;
    * the filter is sized ONCE and probes map-side broadcast, nothing
    * ever shuffles). Error is one-sided like the paragraph tier, but
    * note the DIRECTION: a false positive (rate ≤ design `fpp` while
    * honestly sized) excises a fresh span that was never shipped —
    * the over-DELETE side, acceptable for dedup where a lost span is
    * a recall cost, never a correctness one — while a truly
    * duplicated span can NEVER survive (no false negatives), so the
    * surviving text ⊆ the exact store's (spec'd, with equality on an
    * honestly-sized filter deterministic per corpus — the gate row's
    * shared oracle). Accepts the single filter or the sharded
    * [[ParaBloomBank]]. */
  def duplicateSpansAcrossBloom[B <: BloomStore](freshDf: DataFrame,
      bloom: org.apache.spark.broadcast.Broadcast[B],
      textCol: String, idCol: String, k: Int = 13,
      hotGramCap: Long = 1L << 20): DataFrame = {
    require(k >= 2, s"span gram size must be >= 2 tokens, got $k " +
      "(k = 1 would delete every repeated word — vocabulary, not duplication)")
    require(hotGramCap >= 2, s"hotGramCap must be >= 2, got $hotGramCap")
    val seen = graft.expressions.BloomMightContain.probe(bloom) _
    // ONE probe per gram occurrence: the flag splits both rules below.
    // A store-hit hot gram never shuffles at all here (the probe is
    // map-side); a store-MISS hot gram — new boilerplate arriving in
    // one batch — takes the shared broadcast split below.
    val grams = positionalGramFrame(freshDf, textCol, idCol, k)
      .withColumn("__instore",
        seen(col("__gh"), xxhash64(lit(ParaHashSalt), col("__gh"))))
    val markedVsStore = grams.where(col("__instore"))
      .select(col("__did"), col("__pos"))
    val freshOnly = grams.where(!col("__instore"))
    mergeSpanIslands(
      markedVsStore.unionByName(markBatchNonWinners(freshOnly, hotGramCap)), k)
      .select(col("__did").as(idCol), col("span_start"), col("span_end"))
  }

  /** [[duplicateSpansAcrossBloom]] + the excise — the bounded-store
    * ingest excision ([[removeDuplicateSpansAcross]]'s contract). */
  def removeDuplicateSpansAcrossBloom[B <: BloomStore](freshDf: DataFrame,
      bloom: org.apache.spark.broadcast.Broadcast[B],
      textCol: String, idCol: String, k: Int = 13,
      hotGramCap: Long = 1L << 20): DataFrame =
    exciseSpans(freshDf,
      duplicateSpansAcrossBloom(freshDf, bloom, textCol, idCol, k, hotGramCap),
      textCol, idCol)

  /** Incremental SemDeDup — the ingest shape (the
    * [[incrementalSurvivors]] contract on the semantic tier): a fresh
    * batch dedups against the RETAINED corpus and within itself, all
    * inside the frozen quantizer's cells, WITHOUT re-pairing the base
    * corpus against itself. A fresh row drops if it is
    * cosine ≥ threshold to ANY base row in its cell, or if it is the
    * greater id of a within-batch pair (the single-pass [[survivors]]
    * rule — first-arrival greedy, not transitive closure: matching
    * every other incremental tier, and the right call at ingest where
    * the component structure isn't known yet). Null-embedding fresh
    * rows assign to no cell and always survive. At one cell the
    * composition provably degenerates to the global pairwise
    * incremental rule (the oracled gate row). */
  def semanticIncrementalSurvivors(freshDf: DataFrame, baseIdx: IvfIndex,
      idCol: String, threshold: Double): DataFrame = {
    val vsBase = semanticPairsAcross(freshDf, baseIdx, idCol, threshold)
    val inBatch = semanticPairs(
      IvfIndex.withCentroids(freshDf, baseIdx.embCol, baseIdx.centroidVectors),
      idCol, threshold)
    freshDf
      .join(vsBase.select(col("id_new").as(idCol)).distinct(), Seq(idCol), "left_anti")
      .join(inBatch.select(col("id2").as(idCol)).distinct(), Seq(idCol), "left_anti")
  }

  /** [[semanticIncrementalSurvivors]] against a MIXED retained store —
    * the BOUNDED streaming-SemDeDup state (r14 VERDICT #1: the
    * full-vector store is the semantic tier's analog of the exact
    * paragraph store the Bloom bank replaced — d·4 bytes per survivor,
    * re-joined against every batch forever). The store keeps FULL
    * vectors (`embCol` non-null) for at most a per-cell cap of
    * survivors and PQ CODES (`__codes` m·codeBytes bytes + `__norm`,
    * 16× smaller at d=64/m=8/k≤256, `embCol` null) beyond it; a fresh
    * row screens against the exact rows by the same cell-blocked
    * cosine every semantic tier uses, and against the coded rows by
    * [[graft.expressions.PqQueryDot]] — codeword floats indexed
    * straight from the frozen codebooks, so the comparison costs the
    * SAME d multiplies but the store row shipped only m bytes through
    * the cell join.
    *
    * Error contract (one-sided at the store level): with a LOSSLESS
    * model ([[PqModel.lossless]] — every stored vector reconstructs
    * exactly) the coded screen is arithmetic-identical to the exact
    * one (same ascending-dimension double accumulation — the oracled
    * gate row). With a lossy model each coded comparison carries the
    * reconstruction error |adc − true| ≤ ‖fresh‖·Σⱼ‖rⱼ‖ (rⱼ the
    * per-subspace residual): an over-threshold error DROPS a fresh
    * near-boundary row (an extra drop — the direction the paragraph
    * Bloom tier already accepts at fpp), an under-threshold error
    * RETAINS a row the full store would have dropped, and a wrongly
    * retained survivor can only cause extra FUTURE drops (it screens
    * later batches) — never resurrect a dropped one. So the drained
    * output is a SUBSET-leaning approximation whose agreement was
    * measured at ≥1M rows at r15 by the removed ScaleProbe
    * `semdedupstore` mode,
    * `git show e105133:src/main/scala/graft/ScaleProbe.scala`. Store
    * rows with BOTH halves null never match (nullIntolerant kernels) —
    * there are none by construction ([[graft.streaming.StreamOps.semanticDedupPerBatchBounded]]
    * writes exactly one half). */
  def semanticBoundedSurvivors(freshDf: DataFrame,
      centroidVectors: Array[Array[Float]], store: DataFrame,
      model: PqModel, embCol: String, idCol: String,
      threshold: Double): DataFrame = {
    require(store.columns.contains("cell") && store.columns.contains("__codes") &&
        store.columns.contains("__norm") && store.columns.contains(embCol),
      s"store needs (cell, $embCol, __codes, __norm) — the semanticDedupPerBatchBounded layout")
    val fresh = IvfIndex.withCentroids(freshDf, embCol, centroidVectors).indexed
      .select(col(idCol).as("__fid"), col(embCol).as("__femb"), col("cell"))
      .withColumn("__fnorm", graft.functions.vectors.vector_norm(col("__femb")))
    val exactStore = store.where(col(embCol).isNotNull)
      .select(col("cell"), col(embCol).as("__semb"))
    val codedStore = store.where(col(embCol).isNull)
      .select(col("cell"), col("__codes"), col("__norm"))
    val dropExact = fresh.join(exactStore, "cell")
      .where(graft.functions.vectors
        .cosine_similarity(col("__femb"), col("__semb")) >= threshold)
      .select(col("__fid")).distinct()
    val adcDot = ColumnBridge.column(graft.expressions.PqQueryDot(
      ColumnBridge.expression(col("__codes")),
      ColumnBridge.expression(col("__femb")),
      model.m, model.sub, model.flatCodewords, model.offsets, model.codeBytes))
    val dropCoded = fresh.join(codedStore, "cell")
      .withColumn("__sim",
        when(col("__fnorm") === 0.0 || col("__norm") === 0.0, lit(0.0))
          .otherwise(adcDot / (col("__fnorm") * col("__norm"))))
      .where(col("__sim") >= threshold)
      .select(col("__fid")).distinct()
    val inBatch = semanticPairs(
      IvfIndex.withCentroids(freshDf, embCol, centroidVectors), idCol, threshold)
    freshDf
      .join(dropExact.select(col("__fid").as(idCol)), Seq(idCol), "left_anti")
      .join(dropCoded.select(col("__fid").as(idCol)), Seq(idCol), "left_anti")
      .join(inBatch.select(col("id2").as(idCol)).distinct(), Seq(idCol), "left_anti")
  }
}
