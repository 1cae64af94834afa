package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{asc, col}
import org.scalatest.funsuite.AnyFunSuite

/**
 * Plan-shape regression guards: the scale properties the engine
 * promises are physical-plan properties, so they are asserted, not
 * hoped for. If a refactor re-introduces a global sort into top-k or
 * turns a dimension broadcast into a shuffle, these fail.
 */
class PlanShapeSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  private val sf = "/root/testdata/sf0.001"

  private def plan(q: String): String = {
    val df: DataFrame = SparkEntry.queries(q)(spark, sf)
    df.queryExecution.explainString(org.apache.spark.sql.execution.SimpleMode)
  }

  test("nearest compiles to TakeOrderedAndProject with a broadcast query side — no corpus sort") {
    val p = plan("nearest_cosine")
    assert(p.contains("TakeOrderedAndProject"))
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"))
    // A Sort ABOVE the top-k touches <= n rows (the presentation re-sort
    // on the rounded output) — fine. A Sort BELOW it would be a full
    // corpus sort — that's the regression this guards against.
    val belowTopK = p.substring(p.indexOf("TakeOrderedAndProject"))
    assert(!belowTopK.contains("Sort"), "no sort may run under the top-k")
  }

  test("heap-based k-NN join plans a partial aggregation, not a ranking window") {
    val p = plan("simjoin_knn_heap")
    assert(!p.contains("Window"), "bounded-heap join must not use a window")
    assert(p.toLowerCase.contains("partial"), "map-side partial aggregation expected")
  }

  test("selective join query broadcasts the filtered dimension") {
    val p = plan("q3_join")
    assert(p.contains("BroadcastHashJoin"))
  }

  test("filter and projection reach the parquet scan") {
    val p = SparkEntry.queries("nearest_cosine")(spark, sf)
      .queryExecution.explainString(org.apache.spark.sql.execution.FormattedMode)
    assert(p.contains("PushedFilters: [IsNotNull(vec_id), EqualTo(vec_id,0)]"))
    assert(p.contains("ReadSchema: struct<vec_id:bigint,embedding:array<float>>"))
  }

  test("keyword-only search is a single whole-stage-codegen scan, zero exchanges before top-k") {
    val p = SparkEntry.queries("keyword_search")(spark, sf)
      .queryExecution.explainString(org.apache.spark.sql.execution.FormattedMode)
    assert(!p.contains("ShuffleExchange"), "pure scan+score must not shuffle")
  }

  test("as-of join is one key shuffle + one window — no range cross join") {
    val p = plan("asof_attribution")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "as-of must not plan a cross join")
    assert(p.contains("Window"), "running-last window expected")
    // exactly one hash-partitioning exchange feeds the window (the
    // union shuffles ONCE on the key); the final presentation sort adds
    // a range exchange, which is above the window and bounded
    val hashExchanges = "hashpartitioning".r.findAllIn(p.toLowerCase).size
    assert(hashExchanges == 1, s"expected 1 key shuffle, found $hashExchanges:\n$p")
  }

  test("range join plans an equi hash/merge join on (key, bucket) — no cartesian") {
    val p = plan("range_attribution")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "bucketized range join must be an equi-join")
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin") ||
      p.contains("BroadcastHashJoin"), "equi-join expected")
  }

  test("pack_sequences window partitions by the shard key — not a global window") {
    val q = SparkEntry.queries("pack_sequences")(spark, sf)
    val p = q.queryExecution.optimizedPlan.toString
    assert(p.contains("windowspecdefinition(lang"),
      s"window must partition by the shard key (lang):\n$p")
  }

  test("salted join keeps a broadcastable small side broadcast — salting must not force a shuffle") {
    // When the small side fits the broadcast threshold, the big side
    // never shuffles and skew cannot hurt — salting must then be a
    // no-op physically, NOT a regression that blocks the broadcast
    // (e.g. if the explode-replication ever defeated size estimation).
    // The case salting exists for — a small side beyond broadcast
    // reach, where the salted SMJ spreads the hot key over `factor`
    // tasks — was measured at r8 by the removed ScaleProbe `skew` mode
    // (`git show e105133:src/main/scala/graft/ScaleProbe.scala`), not
    // plan-testable at fixture scale.
    val p = plan("skew_join")
    assert(p.contains("BroadcastHashJoin"),
      "factor-replicated small side no longer broadcasts — explode defeated " +
        "the size estimate?")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"))
  }

  test("temperature sampling broadcasts the domain-boundary table — the corpus side must not shuffle") {
    // The whole point of the (domain, boundary) join form (vs a
    // when-chain) is that the corpus side stays shuffle-free: the
    // boundary table is tiny by the maxDomains guardrail and must
    // broadcast.
    val p = plan("sample_temperature")
    assert(p.contains("BroadcastHashJoin"),
      s"domain-boundary table no longer broadcasts:\n$p")
    assert(!p.contains("SortMergeJoin"),
      "corpus side of the sampling join must not sort-merge")
  }

  test("paragraph dedup explodes the corpus exactly twice and broadcasts the winners frame") {
    // One explode feeds the winner aggregation, one feeds the
    // occurrence side of the left join; the union-free bypass
    // formulation exists precisely so there is no THIRD pass over the
    // corpus text. At fixture scale the winners frame must broadcast —
    // the occurrence side then never shuffles before reassembly.
    val p = plan("dedup_paragraphs")
    assert(p.sliding("posexplode".length).count(_ == "posexplode") == 2,
      s"corpus text exploded more (or fewer) than twice:\n$p")
    assert(p.contains("LeftOuter, BuildRight"),
      "winners frame no longer broadcasts under the left join")
    assert(!p.contains("CartesianProduct"))
  }

  test("pretraining pipeline composes without a cartesian and keeps the eval grams broadcast") {
    // Four chained operators must still make one sane plan: the
    // decontamination stage's eval-gram side broadcasts (corpus never
    // bulk-shuffles for the anti-join) and no stage degenerates into
    // a cartesian product. The query's stage seams root its plan at
    // LogicalRDD, so the guard reads the same chain un-cut.
    val (_, _, _, shipped) = SparkEntry.pretrainChain(spark, sf, cut = false)
    val p = shipped().orderBy(col("doc_id")).queryExecution
      .explainString(org.apache.spark.sql.execution.SimpleMode)
    assert(!p.contains("CartesianProduct"), s"composition produced a cartesian:\n$p")
    assert(p.contains("LeftAnti"), "decontamination left-anti join missing from the chain")
    assert(p.contains("BroadcastExchange"), "eval-gram side no longer broadcasts")
  }

  test("gopher rules are one map-only pass: zero exchanges, zero joins") {
    // the whole battery (counters + keep decision) must stay inside a
    // single scan — a shuffle or a join anywhere means a stats pass
    // leaked in and the operator stopped being free at corpus scale.
    // (The gate query adds a presentation orderBy; pin the operator
    // frame itself.)
    import org.apache.spark.sql.functions.col
    val st = graft.operators.TextAnalysis.gopherStats(col("text"))
    val p = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id"), st.as("st"),
        graft.operators.TextAnalysis.gopherKeep(st, minWords = 20).as("keep"))
      .queryExecution.explainString(org.apache.spark.sql.execution.SimpleMode)
    assert(!p.contains("Exchange"), s"gopher battery must not shuffle:\n$p")
    assert(!p.contains("Join"), s"gopher battery must not join:\n$p")
  }

  test("shard packing windows per bucket and broadcasts the offsets — no global single-partition sort") {
    // the two-level prefix sum's contract: the window partitions by
    // the bucket tag (bounded tasks), the per-bucket offsets ride a
    // broadcast join, and the CORPUS never plans the naive global
    // window (which Spark spells as an Exchange SinglePartition).
    // Round 12 moved the offsets computation in-plan: its running sum
    // over the ≤ nBuckets aggregate rows legitimately collapses to a
    // single partition — but only INSIDE the broadcast subtree, above
    // the per-bucket aggregate, never over corpus rows. Operators
    // print top-down with the broadcast (build) branch LAST, so the
    // offsets BroadcastExchange is the last one in the plan text;
    // anchoring on the LAST occurrence (not the first, per r12 ADVICE)
    // keeps the guard honest if a future plan gains an earlier,
    // unrelated broadcast: every SinglePartition must still sit after
    // the offsets exchange and after the per-bucket partial
    // aggregation that bounds it.
    val p = plan("pack_shards")
    assert(p.contains("BroadcastHashJoin"),
      s"bucket offsets no longer broadcast:\n$p")
    val bcast = p.lastIndexOf("BroadcastExchange")
    assert(bcast >= 0, s"offsets subtree lost its broadcast:\n$p")
    var i = p.indexOf("SinglePartition")
    while (i >= 0) {
      assert(i > bcast,
        s"a single-partition exchange outside the tiny offsets subtree " +
          s"means the naive global window came back:\n$p")
      i = p.indexOf("SinglePartition", i + 1)
    }
    // and the offsets subtree really aggregates before collapsing: the
    // single partition holds bucket sums, not corpus rows
    if (p.contains("SinglePartition"))
      assert(p.indexOf("HashAggregate", bcast) >= 0,
        s"offsets branch must aggregate per bucket before its tiny window:\n$p")
  }

  test("per-key cap is one hash shuffle on the key and a counting window — nothing else") {
    val p = plan("cap_per_source")
    assert(p.contains("Window"), "capPerKey must plan a per-key window")
    assert(!p.contains("Join"), "capPerKey must not join")
    assert(!p.contains("SinglePartition"),
      s"cap must shuffle on the key, not collapse to one partition:\n$p")
  }

  test("text-to-image search decodes AFTER retrieval: top-k sits under the image stage") {
    val p = plan("multimodal_text_search")
    // the decode/featurize stages are the MapPartitions nodes; the
    // ranking truncation (TakeOrderedAndProject) must appear BELOW them
    // in the plan text (operators print top-down), i.e. only k rows —
    // not the corpus — reach the PNG codec
    val firstMap = p.indexOf("MapPartitions")
    val topK = p.indexOf("TakeOrderedAndProject")
    assert(firstMap >= 0, "expected MapPartitions decode stages in the plan")
    assert(topK > firstMap,
      "TakeOrderedAndProject must be upstream (printed below) the decode — " +
        "decoding before ranking would run the codec over the whole corpus")
  }

  test("image-as-query search ranks via TakeOrderedAndProject with no exchange under it") {
    val p = plan("multimodal_image_query")
    assert(p.contains("TakeOrderedAndProject"),
      "image query must rank through the bounded-heap top-k, not a global sort")
    // the query vector is a literal (decoded driver-side), so below the
    // top-k there must be NO shuffle of the corpus: the feature scan +
    // cosine scoring pipeline to the per-partition heaps directly
    val belowTopK = p.substring(p.indexOf("TakeOrderedAndProject"))
    assert(!belowTopK.contains("Exchange"),
      "no corpus exchange may run under the image-query top-k")
    assert(!belowTopK.contains("Sort"), "no sort may run under the top-k")
  }

  test("IVFADC search is a filtered coded scan under TakeOrderedAndProject — no shuffle, no decode") {
    // the composed serving shape: probe cells driver-side, then ONE
    // job — cell filter → ADC scoring expression → bounded-heap top-k.
    // No exchange of the coded corpus, no window, and the embedding
    // column must not appear anywhere (vectors dropped at build)
    val p = plan("ann_ivfpq_exact")
    assert(p.contains("TakeOrderedAndProject"),
      s"IVFADC must rank through the bounded-heap top-k:\n$p")
    val belowTopK = p.substring(p.indexOf("TakeOrderedAndProject"))
    assert(!belowTopK.contains("Exchange"),
      s"no coded-corpus exchange may run under the IVFADC top-k:\n$p")
    assert(p.contains("pq_adc_dot") || p.contains("PqAdcDot"),
      s"scoring must go through the ADC table-lookup expression:\n$p")
    // the probe filter survives to the scan: either as a filter on a
    // materialized cell column ("cell IN"/"cell#... INSET", the saved
    // cell-partitioned layout) or — on the lazy build lineage —
    // Catalyst inlines the quantizer and pushes the probe set as an
    // INSET data filter directly over the scan, which is stronger
    assert(p.contains("cell IN") || p.contains(" INSET "),
      s"the probe filter must be in the plan:\n$p")
  }

  test("classifier scoring with broadcast weights keeps the token stream shuffle-free on the token key") {
    import org.apache.spark.sql.functions._
    // The open-vocabulary default shuffles both sides on the token key;
    // broadcastWeights is the bounded-vocab serving shape — the exploded
    // token stream must join the weights by BROADCAST (BuildRight) and
    // never shuffle on the token key, so the only exchanges left are the
    // doc-key aggregations.
    val docs = Tables(spark, sf, "documents")
      .withColumn("y", (col("doc_id") % 3 === 0).cast("int"))
    val m = graft.operators.Classifier.fit(
      docs.where(col("doc_id") < 100), "text", "y", "doc_id", iters = 1)
    val p = graft.operators.Classifier
      .scoreAgainst(docs, m, "text", "doc_id", broadcastWeights = true)
      .queryExecution.explainString(org.apache.spark.sql.execution.SimpleMode)
    assert("BroadcastHashJoin \\[__tok[^\\n]*BuildRight".r.findFirstIn(p).isDefined,
      s"weights no longer broadcast under the scoring join:\n$p")
    assert(!p.contains("Exchange hashpartitioning(__tok"),
      s"token stream shuffles on the token key despite broadcast weights:\n$p")
    assert(!p.contains("SortMergeJoin [__tok"),
      s"token-key sort-merge join crept into the broadcast path:\n$p")
  }

  test("semanticPairs plans a cell equi-join — the SemDeDup candidate cap is real, never a cartesian") {
    import org.apache.spark.sql.functions._
    val emb = Tables(spark, sf, "embeddings")
    val idx = graft.operators.IvfIndex.build(emb, "embedding", nlist = 4)
    val p = graft.operators.Dedup.semanticPairs(idx, "vec_id", 0.35)
      .queryExecution.explainString(org.apache.spark.sql.execution.SimpleMode)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"within-cell prune must join on the cell key, not cross-join:\n$p")
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin") ||
      p.contains("BroadcastHashJoin"),
      s"expected an equi-join on the cell key:\n$p")
  }

  test("semanticBoundedSurvivors: both store halves join on the cell key — never a cartesian") {
    import org.apache.spark.sql.functions._
    val emb = Tables(spark, sf, "embeddings")
    val idx = graft.operators.IvfIndex.build(emb, "embedding", nlist = 4)
    val model = graft.operators.PqIndex.fit(emb, "embedding", m = 8)
    val assigned = idx.indexed
    val store = assigned
      .select(col("vec_id"), col("cell"), col("embedding"),
        lit(null).cast("binary").as("__codes"), lit(null).cast("double").as("__norm"))
      .unionByName(graft.operators.PqIndex
        .encode(assigned.limit(10), "embedding", model, "__codes", "__norm")
        .select(col("vec_id"), col("cell"),
          lit(null).cast("array<float>").as("embedding"), col("__codes"), col("__norm")))
    val p = graft.operators.Dedup.semanticBoundedSurvivors(emb,
        idx.centroidVectors, store, model, "embedding", "vec_id", 0.35)
      .queryExecution.explainString(org.apache.spark.sql.execution.SimpleMode)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"the bounded store's exact AND coded screens must stay cell equi-joins:\n$p")
  }

  test("semanticDedupByCentroid plans ZERO corpus exchanges — broadcast tables only") {
    import org.apache.spark.sql.functions._
    val emb = Tables(spark, sf, "embeddings")
    val idx = graft.operators.IvfIndex.build(emb, "embedding", nlist = 4)
    val p = graft.operators.Dedup.semanticDedupByCentroid(emb, idx, "vec_id", eps = 0.7)
      .queryExecution.executedPlan.toString
    // the keep rule is a map-side filter against the broadcast
    // centroid and min-id tables: the ONLY hash exchange allowed is
    // the min-id aggregation's own (its input is the map-side partial
    // — nlist rows per partition, KBs) — never a second, corpus-wide
    // exchange of the embeddings frame, which is what the pre-r15
    // losers anti-join cost. A corpus exchange here silently doubles
    // the 100 TB cost.
    val hashExchanges = p.linesIterator
      .filter(_.contains("Exchange hashpartitioning")).toSeq
    assert(hashExchanges.size <= 1,
      s"centroid screen must carry at most the min-id aggregation's exchange:\n" +
        s"${hashExchanges.mkString("\n")}\n\nfull plan:\n$p")
    assert(p.contains("partial_min"),
      s"the single allowed exchange must belong to the partial-min aggregation:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"centroid screen must stay broadcast equi-joins:\n$p")
  }

  test("semanticPairsMulti plans a cell equi-join over the exploded assignment — never a cartesian") {
    import org.apache.spark.sql.functions._
    val emb = Tables(spark, sf, "embeddings")
    val idx = graft.operators.IvfIndex.build(emb, "embedding", nlist = 4)
    val p = graft.operators.Dedup.semanticPairsMulti(emb, idx.centroidVectors,
        "embedding", "vec_id", 0.35, nprobe = 2)
      .queryExecution.explainString(org.apache.spark.sql.execution.SimpleMode)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"multi-assign pairing must join on the cell key, not cross-join:\n$p")
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin") ||
      p.contains("BroadcastHashJoin"),
      s"expected an equi-join on the cell key:\n$p")
  }

  test("a persisted window output keeps its partitioning through a broadcast join into an aggregation — the Classifier.fit contract") {
    import org.apache.spark.sql.functions._
    // Classifier.fit's per-iteration plan leans on a specific Spark
    // behavior (round 14): the CACHE retains the plan and with it the
    // window's HashPartitioning, so the scoring pass's per-doc
    // aggregation after a broadcast weights join needs NO exchange of
    // the feature frame (a localCheckpoint, by contrast, erases
    // partitioning — measured). This pins the behavior on the exact
    // shape fit builds: window over doc -> persist -> broadcast join
    // on token -> groupBy doc. If a Spark upgrade stops propagating
    // partitioning through InMemoryTableScan, fit's 100 TB shuffle
    // story silently doubles — this test makes that loud.
    val df = spark.range(1000).toDF("id")
      .withColumn("tok", pmod(col("id"), lit(50)))
    val feat = df.withColumn("nd",
      sum("tok").over(org.apache.spark.sql.expressions.Window.partitionBy("id")))
      .persist()
    try {
      feat.count()
      val w = spark.range(50).toDF("tok2")
      val agg = feat.join(broadcast(w), col("tok") === col("tok2"))
        .groupBy("id").agg(sum("nd"))
      val p = agg.queryExecution.explainString(
        org.apache.spark.sql.execution.SimpleMode)
      assert(!p.contains("Exchange hashpartitioning(id"),
        s"cached window partitioning no longer satisfies the doc-key aggregation:\n$p")
      assert(p.contains("InMemoryTableScan"), s"the cache must be in the plan:\n$p")
    } finally feat.unpersist()
  }

  test("SPFHP assignment: broadcast offsets + broadcast strategy, no length-only shuffle") {
    import org.apache.spark.sql.functions._
    // the rank pass may exchange on (len, bucket) — bounded skew by
    // construction — but never on the bare length key (a corpus
    // concentrated at maxLen would funnel one partition), and both
    // small tables must reach the corpus via broadcast
    val docs = Tables(spark, sf, "documents")
      .select(col("doc_id"),
        graft.operators.TextAnalysis.tokenCount(col("text")).cast("int").as("len"))
      .where(col("len").between(1, 64))
    val st = graft.operators.TextAnalysis.fitPackStrategy(docs, "len",
      maxLen = 64, maxPerPack = 3)
    val p = graft.operators.TextAnalysis.packWithStrategy(docs, st, "len", "doc_id")
      .queryExecution.explainString(org.apache.spark.sql.execution.SimpleMode)
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 1 &&
      p.contains("BroadcastExchange"),
      s"offsets/strategy no longer broadcast:\n$p")
    // bare form = hashpartitioning(len#N, <numPartitions>); the
    // legitimate rank exchange carries the bucket: (len#N, __bk#M, …)
    assert("Exchange hashpartitioning\\(len#\\d+, \\d+\\)".r.findFirstIn(p).isEmpty,
      s"a bare length-key exchange crept in (skew funnel at uniform corpora):\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"a sort-merge join crept into the broadcast assignment:\n$p")
  }

  test("DSIR scoring broadcasts the ratios — the feature stream never shuffles on its key") {
    import org.apache.spark.sql.functions._
    // The artifact is numBuckets rows (10k ⇒ ~160 KB) at ANY corpus
    // size, so scoring must be a broadcast join + the doc-key
    // aggregation: a feature-key shuffle of the corpus-scale stream
    // would be the operator's 100-TB bottleneck.
    val docs = Tables(spark, sf, "documents")
    val model = graft.operators.TextAnalysis.fitDsir(
      docs.where(col("doc_id") % 7 === 0), docs.where(col("doc_id") % 7 =!= 0),
      "text", numBuckets = 10000)
    val p = graft.operators.TextAnalysis
      .dsirScoreAgainst(docs.where(col("doc_id") % 7 =!= 0), model, "text", "doc_id")
      .queryExecution.explainString(org.apache.spark.sql.execution.SimpleMode)
    assert("BroadcastHashJoin \\[__b[^\\n]*BuildRight".r.findFirstIn(p).isDefined,
      s"ratios no longer broadcast under the scoring join:\n$p")
    assert(!p.contains("Exchange hashpartitioning(__b"),
      s"feature stream shuffles on the bucket key despite broadcast ratios:\n$p")
    assert(!p.contains("SortMergeJoin [__b"),
      s"bucket-key sort-merge join crept into the broadcast path:\n$p")
  }

  test("two-stage Matryoshka retrieval: both stages are top-k heaps — no global sort, no exchange between stages") {
    val p = plan("nearest_matryoshka")
    // stage 1 (prefix shortlist) and stage 2 (full re-rank) each plan
    // TakeOrderedAndProject; a Sort or a shuffle between them would
    // mean the shortlist stopped being a bounded-heap pass
    assert(p.sliding("TakeOrderedAndProject".length)
      .count(_ == "TakeOrderedAndProject") >= 2,
      s"expected two top-k heap stages:\n$p")
    assert(!p.contains("Exchange hashpartitioning"),
      s"no key shuffle belongs in a two-stage rank:\n$p")
  }

  test("hard-negative mining from pairs: labels broadcast, top-k via partial aggregation — no window, no label shuffle") {
    val p = plan("hard_negatives_banded")
    assert(!p.contains("Window"),
      s"the per-anchor top-k must be the bounded heap, not a ranking window:\n$p")
    assert(p.toLowerCase.contains("partial"),
      s"map-side partial aggregation expected:\n$p")
    assert("BroadcastHashJoin \\[(anchor_id|neg_id)".r.findFirstIn(p).isDefined,
      s"label joins must broadcast the label table:\n$p")
  }

  test("DSIR bucket telemetry: the model ratios join is broadcast — the sampled feature stream never shuffles on the bucket key") {
    val p = plan("dsir_bucket_stats")
    assert("BroadcastHashJoin \\[[^\\n]*__b[^\\n]*BuildRight".r.findFirstIn(p).isDefined,
      s"ratios no longer broadcast under the comparison join:\n$p")
    assert(!p.contains("SortMergeJoin [__b"),
      s"bucket-key sort-merge join crept into the telemetry:\n$p")
  }

  test("OPQ search: the rotated ADC scan sits under TakeOrderedAndProject with no exchange") {
    val p = plan("ann_opq")
    assert(p.contains("TakeOrderedAndProject"), s"top-k heap expected:\n$p")
    val below = p.substring(p.indexOf("TakeOrderedAndProject"))
    assert(!below.contains("Exchange") && !below.contains("Sort "),
      s"nothing may shuffle or sort under the coded top-k:\n$p")
  }

  test("OPQ∘IVFADC search: cell-filtered rotated-residual ADC scan under TakeOrderedAndProject, no exchange") {
    val p = plan("ann_opq_ivfpq")
    assert(p.contains("TakeOrderedAndProject"), s"top-k heap expected:\n$p")
    val below = p.substring(p.indexOf("TakeOrderedAndProject"))
    assert(!below.contains("Exchange hashpartitioning") && !below.contains("Sort "),
      s"nothing may key-shuffle or sort under the coded top-k:\n$p")
    assert(p.contains("cell"), s"the nprobe cell filter must be in the plan:\n$p")
  }

  test("batch refine: per-query top-k via partial aggregation, queries broadcast — no window, no query-key shuffle of the corpus") {
    val p = plan("ann_ivfpq_refine_batch_exact")
    assert(!p.contains("Window"),
      s"the per-query top-k must be the bounded heap, not a ranking window:\n$p")
    assert(p.toLowerCase.contains("partial"),
      s"map-side partial aggregation expected:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"the query table must broadcast into the re-rank join:\n$p")
  }

  test("materialized Matryoshka prefix: stage 1's scan reads ONLY (id, prefix) — the full vector stays at rest") {
    import graft.operators.Nearest
    val dir = java.nio.file.Files.createTempDirectory("graft_prefix_plan").toString
    try {
      val e = Tables(spark, sf, "embeddings")
      Nearest.materializePrefix(e.select(col("vec_id"), col("embedding")),
          "embedding", 16)
        .write.mode("overwrite").parquet(dir)
      val stored = spark.read.parquet(dir)
      val q = Array.fill(64)(0.1f)
      val p1 = Nearest.prefixShortlistFrame(stored, "embedding_prefix",
          "vec_id", q, prefixDims = 16, shortlist = 50,
          tieBreakers = Seq(asc("vec_id")))
        .queryExecution.explainString(org.apache.spark.sql.execution.FormattedMode)
      assert(p1.contains("ReadSchema: struct<vec_id:bigint,embedding_prefix:array<float>>"),
        s"stage 1 must scan only the id + prefix columns:\n$p1")
      assert(!p1.contains("embedding:array"),
        s"the full-vector column leaked into the shortlist scan:\n$p1")
      // stage 2: the shortlist ids arrive as a PUSHED scan predicate
      val out = Nearest.twoStagePrefixTopK(stored, "embedding",
        "embedding_prefix", "vec_id", q, n = 5, prefixDims = 16,
        shortlist = 50, tieBreakers = Seq(asc("vec_id")))
      val p2 = out.queryExecution
        .explainString(org.apache.spark.sql.execution.FormattedMode)
      assert(p2.contains("PushedFilters: [In(vec_id"),
        s"stage 2's id predicate must push to the scan:\n$p2")
    } finally {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).getOrElse(Array.empty).foreach(rm); f.delete(): Unit
      }
      rm(new java.io.File(dir))
    }
  }

  test("probesMany prices serving cost without touching the coded corpus: no codes in the plan, map-side probe kernel, no exchange") {
    import graft.operators.IvfPqIndex
    val e = Tables(spark, sf, "embeddings")
    val idx = IvfPqIndex.build(e, "embedding", nlist = 4, m = 4, k = 16)
    val q = e.where(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"))
    val p = idx.probesMany(q, "query_id", "qe", 2)
      .queryExecution.explainString(org.apache.spark.sql.execution.SimpleMode)
    // the cost seam reads the query sample ONLY, the centroids riding
    // the probe kernel — if the coded corpus ever enters this plan, the
    // "priced from metadata" claim is broken
    assert(!p.contains("pq_codes"),
      s"the probe-assignment plan must never touch the coded corpus:\n$p")
    assert(p.contains("probe_cells"),
      s"per-query top-nprobe must be the map-side probe kernel:\n$p")
    assert(!p.contains("Exchange") && !p.contains("Join"),
      s"probe assignment is one narrow pass over the query sample:\n$p")
  }

  test("streaming repair gauge (batchCellCounts): map-side assignment + partial count — no window, no join, nlist rows out") {
    import graft.operators.IvfIndex
    val e = Tables(spark, sf, "embeddings")
    val idx = IvfIndex.build(e, "embedding", nlist = 4)
    // the per-batch occupancy increment the in-loop repair cadence
    // collects (round 20): assignment is the codegen NearestCell
    // expression over the BATCH only, counting is a map-combined
    // partial aggregation — if a join, window, or the layout's own
    // scan ever enters this plan, the "batch-proportional check"
    // claim is broken
    val p = IvfIndex.assignWithCentroids(
        e.where(col("vec_id") < 50), "embedding", idx.centroidVectors)
      .groupBy("cell")
      .agg(org.apache.spark.sql.functions.count(
        org.apache.spark.sql.functions.lit(1)).as("n"))
      .queryExecution.explainString(org.apache.spark.sql.execution.SimpleMode)
    assert(p.toLowerCase.contains("partial"),
      s"the gauge must map-combine before its nlist-row exchange:\n$p")
    assert(!p.contains("Window") && !p.toLowerCase.contains("join"),
      s"the gauge is one narrow pass over the batch:\n$p")
    assert(p.contains("nearest_cell"),
      s"assignment must be the codegen NearestCell expression:\n$p")
  }

  /** The minhash plans as EXECUTED (after adaptive re-planning), with
    * exact copies planted so every stage has rows to plan around. */
  private object MinhashPlans extends org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {
    import org.apache.spark.sql.execution.{GenerateExec, SparkPlan}
    import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
    import org.apache.spark.sql.execution.joins.{BaseJoinExec, BroadcastHashJoinExec}

    private lazy val docs = {
      val d = Tables(spark, sf, "documents").select(col("doc_id"), col("text"))
      d.union(d.where(col("doc_id") % 5 === 0).select((col("doc_id") + 1000000L).as("doc_id"), col("text")))
    }
    def selfPlan: SparkPlan = executed(graft.operators.Dedup.minhashPairs(docs, "text", "doc_id", 0.5))
    def acrossPlan: SparkPlan = executed(graft.operators.Dedup.minhashPairsAcross(
      docs.where(col("doc_id") >= 1000000L), docs.where(col("doc_id") < 1000000L),
      "text", "doc_id", 0.5))
    private def executed(df: DataFrame): SparkPlan = {
      assert(df.collect().nonEmpty, "the planted copies must pair")
      df.queryExecution.executedPlan
    }

    private def banded(p: SparkPlan): Boolean = p match {
      case g: GenerateExec => g.generatorOutput.exists(_.name == "__band")
      case _ => false
    }
    def candidateJoins(p: SparkPlan): Seq[BaseJoinExec] = collect(p) {
      case j: BaseJoinExec if j.leftKeys.exists(_.references.exists(_.name == "__band")) => j
    }
    def broadcastsOfBandedRows(p: SparkPlan): Seq[SparkPlan] =
      collect(p) { case b: BroadcastExchangeExec => b }.filter(b => find(b)(banded).isDefined)
    def shingling(p: SparkPlan): Seq[SparkPlan] = collect(p) {
      case n if n.expressions.exists(_.exists(_.isInstanceOf[graft.expressions.ShingleHashes])) => n
    }
    def broadcastJoin(j: BaseJoinExec): Boolean = j.isInstanceOf[BroadcastHashJoinExec]
  }

  test("minhash candidates are one shuffled bucket join — the banded rows never broadcast") {
    // the banded frame is corpus × bands rows: a broadcast collects all
    // of them to the driver, and a candidate frame consumed by several
    // verify branches re-runs that join per branch
    import MinhashPlans._
    for ((name, p) <- Seq("minhashPairs" -> selfPlan, "minhashPairsAcross" -> acrossPlan)) {
      assert(broadcastsOfBandedRows(p).isEmpty, s"$name broadcasts banded rows:\n$p")
      val joins = candidateJoins(p)
      assert(joins.size == 1, s"$name must evaluate its candidate join once:\n$p")
      assert(!broadcastJoin(joins.head), s"$name candidate join must shuffle:\n$p")
    }
  }

  test("minhash verify shingles candidate rows only — shingle_hashes sits above the candidate join") {
    // shingling the whole corpus to verify a handful of pairs is the
    // waste this guards against: every node that evaluates the kernel
    // must have the candidate join beneath it
    import MinhashPlans._
    for ((name, p) <- Seq("minhashPairs" -> selfPlan, "minhashPairsAcross" -> acrossPlan)) {
      val nodes = shingling(p)
      assert(nodes.nonEmpty, s"$name verify lost shingle_hashes:\n$p")
      for (n <- nodes)
        assert(candidateJoins(n).nonEmpty,
          s"$name evaluates shingle_hashes below the candidate join (over the corpus):\n$p")
    }
  }
}
