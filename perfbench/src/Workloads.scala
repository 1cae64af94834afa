package perfbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.HashingEmbedder
import graft.operators.{AnnIndex, Dedup, IvfPqIndex, Nearest, TextAnalysis}

/** State of one benchmark run: the session, the tracer, the run's private
  * work directory, and the tallies every workload reports into. */
final class Run(val spark: SparkSession, val tracer: Tracer, val work: File,
    val seed: Long, val seconds: Double) {
  var attempted = 0
  var failed = 0
  val problems: mutable.ArrayBuffer[String] = mutable.ArrayBuffer.empty
  /** End-to-end metrics under their workload-specific names: (value, unit). */
  val report: mutable.LinkedHashMap[String, (Double, String)] = mutable.LinkedHashMap.empty
  /** Per-layer values the workload measures itself rather than from spans. */
  val facts: mutable.Map[String, Double] = mutable.LinkedHashMap.empty
  /** The end-to-end metrics of the result object (see BENCHMARK.json). */
  var setupS, itemsPerS, latencyP50S, quality = 0.0
  /** Seconds of each measured unit, for diagnosis. */
  val units: mutable.ArrayBuffer[Double] = mutable.ArrayBuffer.empty
  private val guarded = mutable.Set.empty[String]

  def path(name: String): String = new File(work, name).getAbsolutePath

  /** Records a failed check; returns whether `ok`. */
  def check(ok: Boolean, what: => String): Boolean = {
    if (!ok) problems += what
    ok
  }

  /** One operation: counted as attempted, and as failed when it throws or
    * any check inside it fails. */
  def operation(body: => Unit): Unit = {
    attempted += 1
    val before = problems.size
    try body
    catch { case e: Exception => problems += s"${e.getClass.getSimpleName}: ${e.getMessage}" }
    if (problems.size > before) failed += 1
  }

  /** A pipeline stage: the public call, timed on its own, whose output is
    * cut at a local checkpoint and materialized by writing every column to
    * the noop sink. Later stages and the checks read the cut. The first time
    * a stage runs, its executed plan must still contain `marker`, the
    * operator whose output the stage times. */
  def stage(name: String, layer: String, marker: String)(call: => DataFrame): DataFrame =
    tracer.span(name, layer) {
      val out = tracer.span(s"$name.construct", layer)(call)
      val cut = tracer.span("spark.action", "spark") {
        val c = out.localCheckpoint(eager = false)
        c.write.format("noop").mode("overwrite").save()
        c
      }
      if (guarded.add(name))
        check(PlanGuard.holds(out, marker), s"plan guard: the executed plan of $name lost '$marker'")
      cut
    }

  def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  def deadline: Long = System.nanoTime() + (seconds * 1e9).toLong
}

object PlanGuard {
  /** Whether the plan Spark executed for `df` contains `marker`. */
  def holds(df: DataFrame, marker: String): Boolean =
    df.queryExecution.executedPlan.toString.contains(marker)
}

/** Shared set-up pieces of the workloads. */
object Setup {
  val Dim = 64
  val embedder: HashingEmbedder = HashingEmbedder(Dim, 42)

  def writeDocs(spark: SparkSession, docs: Seq[Doc], path: String): DataFrame = {
    spark.createDataFrame(spark.sparkContext.parallelize(docs, 4))
      .write.mode("overwrite").parquet(path)
    spark.read.parquet(path)
  }

  /** Embeds `docs` with the program's embedder and stores (doc_id, emb). */
  def writeVectors(docs: DataFrame, path: String): DataFrame = {
    embedder.embed(docs, "text", "emb").select(col("id").as("doc_id"), col("emb"))
      .write.mode("overwrite").parquet(path)
    docs.sparkSession.read.parquet(path)
  }

  def collectVectors(vecs: DataFrame): (Array[Long], Array[Float]) = {
    val rows = vecs.select("doc_id", "emb").orderBy("doc_id").collect()
    val ids = rows.map(_.getLong(0))
    val flat = new Array[Float](rows.length * Dim)
    rows.zipWithIndex.foreach { case (r, i) =>
      val v = r.getSeq[Float](1)
      var j = 0
      while (j < Dim) { flat(i * Dim + j) = v(j); j += 1 }
    }
    (ids, flat)
  }

  def embedQueries(spark: SparkSession, texts: Seq[String]): Array[Array[Float]] = {
    import spark.implicits._
    embedder.embed(texts.zipWithIndex.map { case (t, i) => (i, t) }.toDF("qid", "text"),
        "text", "qe")
      .orderBy("qid").select("qe").collect().map(_.getSeq[Float](0).toArray)
  }

  /** (id, text) rows as a scanned frame; a local relation would let the
    * optimizer fold the operators above it into constants. */
  def textFrame(spark: SparkSession, rows: Seq[(Long, String)]): DataFrame = {
    import spark.implicits._
    spark.sparkContext.parallelize(rows, math.min(4, rows.size)).toDF("id", "text")
  }

  def queryFrame(spark: SparkSession, ids: Seq[Long], vecs: Seq[Array[Float]]): DataFrame = {
    import spark.implicits._
    ids.zip(vecs).toDF("query_id", "qe")
  }

  /** IVF-PQ over the base vectors, built and saved at `path`, timed alone. */
  def buildIndex(run: Run, vecs: DataFrame, path: String): IvfPqIndex = {
    val (idx, s) = run.timed(run.tracer.span("IvfPqIndex.build", "AnnIndex") {
      val idx = IvfPqIndex.build(vecs, "emb", nlist = Workloads.Nlist, m = 8, k = 256)
      idx.save(path)
      idx
    })
    run.report("index_build_s") = (s, "s")
    run.facts("IvfPqIndex.build_s") = s
    idx
  }

  def copyTree(from: File, to: File): Unit = {
    if (from.isDirectory) {
      to.mkdirs()
      Option(from.listFiles()).getOrElse(Array.empty).foreach(f => copyTree(f, new File(to, f.getName)))
    } else java.nio.file.Files.copy(from.toPath, to.toPath)
  }

  def layoutStats(run: Run, path: String): (Long, Long, Long) = {
    val r = IvfPqIndex.layoutStats(run.spark, path)
      .agg(sum("n_files"), max("n_files"), sum("bytes")).head()
    (r.getLong(0), r.getLong(1), r.getLong(2))
  }
}

/** Exact top-k by brute force over unit vectors, independent of the program. */
object Exact {
  def topK(ids: Array[Long], flat: Array[Float], dim: Int, q: Array[Float], k: Int): Array[Long] = {
    val bestS = Array.fill(k)(Double.NegativeInfinity)
    val bestI = Array.fill(k)(Long.MaxValue)
    var i = 0
    val n = ids.length
    while (i < n) {
      var d = 0.0
      var j = 0
      val off = i * dim
      while (j < dim) { d += flat(off + j) * q(j); j += 1 }
      if (d > bestS(k - 1) || (d == bestS(k - 1) && ids(i) < bestI(k - 1))) {
        var p = k - 1
        while (p > 0 && (d > bestS(p - 1) || (d == bestS(p - 1) && ids(i) < bestI(p - 1)))) {
          bestS(p) = bestS(p - 1); bestI(p) = bestI(p - 1); p -= 1
        }
        bestS(p) = d; bestI(p) = ids(i)
      }
      i += 1
    }
    bestI
  }

  def topKMany(ids: Array[Long], flat: Array[Float], dim: Int, qs: Array[Array[Float]],
      k: Int): Array[Array[Long]] = {
    val out = new Array[Array[Long]](qs.length)
    java.util.stream.IntStream.range(0, qs.length).parallel()
      .forEach(i => out(i) = topK(ids, flat, dim, qs(i), k))
    out
  }

  /** Merges a new block of vectors into running top-k lists. */
  def merge(current: Array[Array[Long]], ids: Array[Long], flat: Array[Float],
      allIds: Long => Array[Float], dim: Int, qs: Array[Array[Float]], k: Int)
      : Array[Array[Long]] =
    current.indices.map { i =>
      val candIds = current(i) ++ ids
      val candFlat = current(i).flatMap(allIds) ++ flat
      topK(candIds, candFlat, dim, qs(i), k)
    }.toArray

  def recall(found: Seq[Long], exact: Array[Long]): Double =
    found.distinct.count(exact.contains).toDouble / exact.length

  def dot(a: Array[Float], b: Array[Float]): Double = {
    var d = 0.0
    var j = 0
    while (j < a.length) { d += a(j) * b(j); j += 1 }
    d
  }
}

object Workloads {
  val Nlist = 32
  val Nprobe = 4
  val K = 10
  val Shortlist = 40

  // curate
  val CurateDocs = 12000
  val CurateMinChains = 3
  val CurateParas = 8
  // serve / ingest
  val BaseDocs = 4000
  val BaseParas = 2
  val ServePool = 512
  val ServeBatch = 8
  val ServeN = 5
  val ServeLambda = 0.7
  val ServeWarmBatches = 3
  val ServeMinBatches = 10
  val IngestBatch = 500
  val IngestMaxBatches = 12
  val IngestProbe = 64
  val IngestSample = 4
  val IngestHoldout = 2000
  /** The read probe's shortlist. Recall@10 falls as batches add rows coded
    * out of sample; with a shortlist of 40 it fell to 0.61 after eight
    * batches on some seeds, at the check's floor of 0.6, and to 0.74 with 80. */
  val IngestShortlist = 80
  /** Query ids of the sampled rows in the ingest read probe. */
  val SampleQueryBase = 1L << 40
  val CompactFilesPerCell = 6

  val names = Seq("curate", "serve", "ingest")

  /** Per-layer metric name -> span name whose duration it sums. */
  val spanMetrics: Map[String, String] = Map(
    "Dedup.dedupParagraphs_s" -> "Dedup.dedupParagraphs",
    "Dedup.decontaminate_s" -> "Dedup.decontaminate",
    "Dedup.minhashPairs_s" -> "Dedup.minhashPairs",
    "Dedup.survivors_s" -> "Dedup.survivors",
    "TextAnalysis.lmScore_s" -> "TextAnalysis.lmScore",
    "TextAnalysis.qualityBuckets_s" -> "TextAnalysis.qualityBuckets",
    "TextAnalysis.qualityBuckets_construct_s" -> "TextAnalysis.qualityBuckets.construct",
    "Embedder.embed_s" -> "Embedder.embed",
    "AnnIndex.searchManyRefine_s" -> "AnnIndex.searchManyRefine",
    "AnnIndex.open_s" -> "AnnIndex.open",
    "IvfPqIndex.ingestBatch_s" -> "IvfPqIndex.ingestBatch",
    "Nearest.mmrTopKManyFromIndex_s" -> "Nearest.mmrTopKManyFromIndex")

  /** Times the workload's set-up, done once into its own directory. */
  private def setup[T](run: Run)(body: String => T): (T, Double) =
    run.timed(body(run.path("setup")))

  def apply(name: String, run: Run): Unit = name match {
    case "curate" => curate(run)
    case "serve" => serve(run)
    case "ingest" => ingest(run)
    case other => throw new IllegalArgumentException(s"unknown workload '$other'")
  }

  /** Runs the measured units u = 0, 1, ...: until at least `min` of them
    * ran, the run's seconds are spent and `done` holds, never more than
    * `max`. Each unit is one operation. */
  private def measure(run: Run, min: Int, max: Int = Int.MaxValue, done: => Boolean = true)(
      unit: Int => Unit): Unit = {
    val deadline = run.deadline
    var u = 0
    while (u < max && (u < min || System.nanoTime() < deadline || !done)) {
      run.tracer.unit = u
      run.operation(unit(u))
      u += 1
    }
    run.tracer.unit = -1
  }

  // ---------------------------------------------------------------- curate

  final case class CurateOut(dd: DataFrame, clean: DataFrame, pairs: DataFrame,
      surv: DataFrame, buckets: DataFrame)

  def curateChain(run: Run, docs: DataFrame, evalDf: DataFrame): CurateOut = {
    val dd = run.stage("Dedup.dedupParagraphs", "Dedup", "posexplode")(
      Dedup.dedupParagraphs(docs, "text", "doc_id"))
    val clean = run.stage("Dedup.decontaminate", "Dedup", "shingle_hashes")(
      Dedup.decontaminate(dd, evalDf, "text", "doc_id", n = Inputs.NgramN))
    val pairs = run.stage("Dedup.minhashPairs", "Dedup", "array_intersect")(
      Dedup.minhashPairs(clean, "text", "doc_id", threshold = 0.5))
    val surv = run.stage("Dedup.survivors", "Dedup", "LeftAnti")(
      Dedup.survivors(clean, "doc_id", pairs))
    val scored = run.stage("TextAnalysis.lmScore", "TextAnalysis", "__nll_micro")(
      TextAnalysis.lmScore(surv, "text", "doc_id")
        .join(surv.select("doc_id", "lang"), "doc_id"))
    val buckets = run.stage("TextAnalysis.qualityBuckets", "TextAnalysis", "Window")(
      TextAnalysis.qualityBuckets(scored, "lm_nll", "lang"))
    CurateOut(dd, clean, pairs, surv, buckets)
  }

  /** Checks one chain's outputs against the planted truth; returns the
    * near-duplicate recall. */
  def checkCurate(run: Run, in: CurateInputs, out: CurateOut): Double = {
    val paras = in.docs.map(_.text.split("\n", -1).length.toLong).sum
    val ddParas = out.dd.agg(sum(size(split(col("text"), "\n", -1)))).head().getLong(0)
    val dropped = paras - ddParas
    run.check(dropped == in.dupParagraphs,
      s"curate: dedupParagraphs dropped $dropped paragraphs, planted ${in.dupParagraphs}")
    val ddIds = out.dd.select("doc_id").collect().map(_.getLong(0)).toSet
    run.check(ddIds.size == in.docs.size,
      s"curate: dedupParagraphs kept ${ddIds.size} of ${in.docs.size} documents")
    val cleanIds = out.clean.select("doc_id").collect().map(_.getLong(0)).toSet
    val removed = ddIds -- cleanIds
    run.check(removed == in.contaminated,
      s"curate: decontaminate removed ${removed.size} documents, " +
        s"${(removed -- in.contaminated).size} of them clean; " +
        s"${(in.contaminated -- removed).size} contaminated ones survived")
    val pairs = out.pairs.select("id1", "id2").collect().map(r => (r.getLong(0), r.getLong(1)))
    val planted = in.nearDupPairs.toSet
    val survIds = out.surv.select("doc_id").collect().map(_.getLong(0)).toSet
    val copies = in.nearDupPairs.map(_._2)
    val recall = copies.count(c => !survIds(c)).toDouble / copies.size
    run.check(recall >= 0.9, f"curate: near-duplicate recall $recall%.3f below 0.9")
    run.check(survIds.subsetOf(cleanIds), "curate: survivors holds ids absent from its input")
    val buckets = out.buckets.groupBy("bucket").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    run.check(buckets.values.sum == survIds.size && buckets.keySet.subsetOf(Set("head", "middle", "tail")),
      s"curate: qualityBuckets labelled ${buckets.values.sum} of ${survIds.size} documents: $buckets")
    run.facts("Dedup.paragraphs_dropped") = dropped.toDouble
    run.facts("Dedup.decon_removed") = removed.size.toDouble
    run.facts("Dedup.minhash_pairs") = pairs.length.toDouble
    run.facts("Dedup.minhash_precision") =
      if (pairs.isEmpty) 0.0 else pairs.count(planted).toDouble / pairs.length
    recall
  }

  def curate(run: Run): Unit = {
    val spark = run.spark
    val ((in, docs, evalDf), setupS) = setup(run) { dir =>
      val in = Inputs.curate(run.seed, CurateDocs, CurateParas)
      val docs = Setup.writeDocs(spark, in.docs, s"$dir/docs").withColumnRenamed("id", "doc_id")
      import spark.implicits._
      in.evalTexts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("eval_id", "text")
        .write.parquet(s"$dir/eval")
      (in, docs, spark.read.parquet(s"$dir/eval"))
    }
    run.setupS += setupS
    val bytes = in.docs.map(_.text.length.toLong).sum
    run.report("curate_input_docs") = (in.docs.size.toDouble, "docs")
    run.report("curate_input_bytes") = (bytes.toDouble, "B")

    // the first chain compiles the generated code and is not timed; a
    // warm-up over a smaller corpus left the measured chains still
    // speeding up by a fifth from one to the next
    run.operation { checkCurate(run, in, curateChain(run, docs, evalDf)) }
    val times = mutable.ArrayBuffer.empty[Double]
    val recalls = mutable.ArrayBuffer.empty[Double]
    measure(run, CurateMinChains) { _ =>
      val (out, s) = run.timed(run.tracer.span("curate.iteration", "bench")(
        curateChain(run, docs, evalDf)))
      times += s
      recalls += checkCurate(run, in, out)
    }
    run.latencyP50S = if (times.nonEmpty) Stats.median(times.toSeq) else 0.0
    run.itemsPerS = if (times.nonEmpty) in.docs.size / run.latencyP50S else 0.0
    run.quality = Stats.median(recalls.toSeq)
    run.report("curate_docs_per_s") = (run.itemsPerS, "docs/s")
    run.report("curate_chain_p50_s") = (run.latencyP50S, "s")
    run.report("curate_neardup_recall") = (run.quality, "ratio")
    run.report("curate_chains") = (times.size.toDouble, "count")
    run.units ++= times
  }

  // ----------------------------------------------------------------- serve

  /** The embedded base collection; ids are 0 until n, in order. */
  final case class VectorBase(docs: DataFrame, vecs: DataFrame, texts: Vector[String],
      ids: Array[Long], flat: Array[Float]) {
    def vector(id: Long): Array[Float] =
      java.util.Arrays.copyOfRange(flat, id.toInt * Setup.Dim, (id.toInt + 1) * Setup.Dim)
  }

  private def vectorBase(run: Run, dir: String, n: Int): VectorBase = {
    val docs = Inputs.plainDocs(run.seed, 2, 0L, n, BaseParas)
    val df = Setup.writeDocs(run.spark, docs, s"$dir/docs")
    val vecs = Setup.writeVectors(df, s"$dir/vectors")
    val (ids, flat) = Setup.collectVectors(vecs)
    VectorBase(df.withColumnRenamed("id", "doc_id"), vecs, docs.map(_.text), ids, flat)
  }

  private def reportBase(run: Run, base: VectorBase): Unit = {
    run.report("base_vectors") = (base.ids.length.toDouble, "rows")
    run.report("base_vector_bytes") = (base.flat.length * 4.0, "B")
  }

  /** Rows scanned per query and cell skew, priced from the index's probe
    * assignment and cell sizes outside the timed loop. */
  private def scanCost(run: Run, idx: AnnIndex, q: DataFrame, nq: Int): Unit = {
    val cells = idx.cellSizeStats.collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val probes = idx.probesMany(q, "query_id", "qe", Nprobe).select("cell").collect()
    val scanned = probes.map(r => cells.getOrElse(r.getInt(0), 0L)).sum.toDouble / nq
    val mean = cells.values.sum.toDouble / cells.size
    run.facts("AnnIndex.scanned_rows_per_query") = scanned
    run.facts("AnnIndex.cell_skew") = cells.values.max / mean
    run.facts("AnnIndex.hits_per_scanned_row") = K / scanned
  }

  def serve(run: Run): Unit = {
    val spark = run.spark
    import spark.implicits._
    val ((base, pool, qvecs, bestSim), setupS) = setup(run) { dir =>
      val base = vectorBase(run, dir, BaseDocs)
      val pool = Inputs.queryTexts(run.seed, 4, ServePool)
      val qvecs = Setup.embedQueries(spark, pool)
      val best = Exact.topKMany(base.ids, base.flat, Setup.Dim, qvecs, 1).map(_.head)
      (base, pool, qvecs, best.indices.map(i => Exact.dot(qvecs(i), base.vector(best(i)))))
    }
    run.setupS += setupS
    reportBase(run, base)
    val layout = run.path("layout")
    Setup.buildIndex(run, base.vecs, layout)
    val (idx, openS) = run.timed(run.tracer.span("AnnIndex.open", "AnnIndex")(
      AnnIndex.open(spark, layout)))
    run.facts("AnnIndex.open_s") = openS
    val raw = base.vecs
    val docText = base.docs.select("doc_id", "text")
    val popularity = new Inputs.Zipf(ServePool, 1.0)
    val rnd = new java.util.SplittableRandom(run.seed * 1000003L + 5)
    val ratios = mutable.ArrayBuffer.empty[Double]

    def batch(b: Int): Double = {
      val picks = Vector.fill(ServeBatch)(popularity.sample(rnd))
      val (out, s) = run.timed(run.tracer.span("serve.batch", "bench") {
        val texts = Setup.textFrame(spark, picks.zipWithIndex.map { case (p, i) => (i.toLong, pool(p)) })
          .withColumnRenamed("id", "qid")
        val q = run.stage("Embedder.embed", "Embedder", "hashing_embed")(
          Setup.embedder.embed(texts, "text", "qe"))
        val mmr = run.tracer.span("Nearest.mmrTopKManyFromIndex", "Nearest")(
          Nearest.mmrTopKManyFromIndex(idx, q, raw, "qid", "qe", "doc_id", "emb",
            n = ServeN, lambda = ServeLambda, shortlist = Shortlist, nprobe = Nprobe))
        run.stage("serve.joinText", "bench", "Join")(
          mmr.join(docText, Seq("doc_id")).select("qid", "doc_id", "mmr_rank", "similarity", "text"))
      })
      val rows = out.collect()
      val byQ = rows.groupBy(_.getAs[Long]("qid"))
      run.check(byQ.size == ServeBatch && byQ.values.forall(_.length == ServeN),
        s"serve: batch $b returned ${byQ.size} of $ServeBatch queries with $ServeN docs each")
      run.check(rows.forall(r => base.texts(r.getAs[Long]("doc_id").toInt) == r.getAs[String]("text")),
        s"serve: batch $b joined a document text to the wrong id")
      for ((qid, rs) <- byQ) {
        val first = rs.minBy(_.getAs[Int]("mmr_rank"))
        run.check(rs.map(_.getAs[Int]("mmr_rank")).sorted.toSeq == (1 to rs.length),
          s"serve: batch $b query $qid ranks are not 1..${rs.length}")
        if (b >= 0) ratios += first.getAs[Double]("similarity") / bestSim(picks(qid.toInt))
      }
      s
    }

    // warm-up batches, not timed: the driver's planning code needs a few
    // batches before the JIT has compiled it
    for (b <- 0 until ServeWarmBatches) run.operation { batch(-1 - b) }
    if (run.tracer.enabled)
      scanCost(run, idx, Setup.queryFrame(spark, qvecs.indices.map(_.toLong), qvecs.toSeq), qvecs.length)
    val times = mutable.ArrayBuffer.empty[Double]
    measure(run, ServeMinBatches) { u => times += batch(u) }
    run.itemsPerS = times.size * ServeBatch / times.sum
    run.latencyP50S = Stats.median(times.toSeq)
    run.quality = ratios.sum / ratios.size
    run.report("serve_latency_p50_s") = (run.latencyP50S, "s")
    // p90 needs 100 batches; with fewer, the highest percentile that has
    // ten samples beyond it is reported under its own name, and with fewer
    // than 20 batches there is none
    val n = times.size
    val pct = if (n >= 100) 90 else (n - 10) * 100 / n
    if (n >= 20) run.report(s"serve_latency_p${pct}_s") = (Stats.quantile(times.toSeq, pct / 100.0), "s")
    run.report("serve_qps") = (run.itemsPerS, "queries/s")
    run.report("serve_first_pick_sim_ratio") = (run.quality, "ratio")
    run.report("serve_batches") = (n.toDouble, "count")
    run.units ++= times
  }

  // ---------------------------------------------------------------- ingest

  def ingest(run: Run): Unit = {
    val spark = run.spark
    import spark.implicits._
    val ((base, newDocs, probeVecs, probeExact), dataS) = setup(run) { dir =>
      val base = vectorBase(run, dir, BaseDocs)
      val newDocs = Inputs.plainDocs(run.seed, 6, BaseDocs.toLong,
        IngestBatch * IngestMaxBatches, BaseParas)
      val probeVecs = Setup.embedQueries(spark, Inputs.queryTexts(run.seed, 7, IngestProbe))
      (base, newDocs, probeVecs, Exact.topKMany(base.ids, base.flat, Setup.Dim, probeVecs, K))
    }
    reportBase(run, base)
    val saved = run.path("layout_base")
    // the codec self-similarity ingestBatch guards against, measured
    // outside every timed metric on held-out documents of the base's
    // distribution: on the base itself, the codebooks' training set, it
    // reads 0.02-0.04 above any new batch, close to the guard's 0.05
    // refusal band
    val holdout = Setup.textFrame(spark, Inputs.plainDocs(run.seed, 8, 1L << 30, IngestHoldout,
      BaseParas).map(d => (d.id, d.text)))
    val baseline = Setup.buildIndex(run, base.vecs, saved)
      .codecSelfSimilarity(Setup.embedder.embed(holdout, "text", "emb"), "emb")
    val layout = run.path("layout")
    val (_, copyS) = run.timed(Setup.copyTree(new File(saved), new File(layout)))
    run.setupS += dataS + copyS
    val writer = IvfPqIndex.load(spark, layout)
    val probeQ = Setup.queryFrame(spark, probeVecs.indices.map(_.toLong), probeVecs.toSeq)

    val vecOf = mutable.HashMap.empty[Long, Array[Float]]
    base.ids.indices.foreach(i => vecOf(base.ids(i)) = base.flat.slice(i * Setup.Dim, (i + 1) * Setup.Dim))
    var exact = probeExact
    var raw = base.vecs
    var rows = base.ids.length.toLong
    var files = Setup.layoutStats(run, layout)._1
    var compactions = 0
    var compacted = false
    val ingestTimes = mutable.ArrayBuffer.empty[Double]
    val readTimes = mutable.ArrayBuffer.empty[Double]
    val recalls = mutable.ArrayBuffer.empty[Double]
    val ratios = mutable.ArrayBuffer.empty[Double]

    // batch 0 warms the JIT and codegen caches; it is ingested but not timed
    def batch(b: Int): Unit = {
      val docs = newDocs.slice(b * IngestBatch, (b + 1) * IngestBatch)
      val (emb, ingestS) = run.timed(run.tracer.span("ingest.write", "bench") {
        val df = Setup.textFrame(spark, docs.map(d => (d.id, d.text))).withColumnRenamed("id", "doc_id")
        val emb = run.stage("Embedder.embed", "Embedder", "hashing_embed")(
          Setup.embedder.embed(df, "text", "emb").select("doc_id", "emb"))
        val applied = run.tracer.span("IvfPqIndex.ingestBatch", "AnnIndex")(
          writer.ingestBatch(layout, emb, "emb", b.toLong, baseline,
            compactFilesPerCell = CompactFilesPerCell))
        run.check(applied, s"ingest: batch $b was not applied")
        emb
      })
      val (ids, flat) = Setup.collectVectors(emb)
      ids.indices.foreach(i => vecOf(ids(i)) = flat.slice(i * Setup.Dim, (i + 1) * Setup.Dim))
      raw = raw.union(emb)
      rows += ids.length
      // the read probe: the fixed probe queries plus a sample of this
      // batch's rows, each of which must come back as its own top-1
      val sample = (0 until IngestSample).map(j => ids(j * ids.length / IngestSample))
      val sampleQ = Setup.queryFrame(spark, sample.map(SampleQueryBase + _), sample.map(vecOf))
      val (res, readS) = run.timed(run.tracer.span("ingest.read", "bench") {
        val idx = run.tracer.span("AnnIndex.open", "AnnIndex")(AnnIndex.open(spark, layout))
        run.stage("AnnIndex.searchManyRefine", "AnnIndex", "pq_query_dot")(
          idx.searchManyRefine(probeQ.union(sampleQ), "query_id", "qe", raw, "doc_id", "emb",
            n = K, shortlist = IngestShortlist, nprobe = Nprobe))
      })
      exact = Exact.merge(exact, ids, flat, vecOf, Setup.Dim, probeVecs, K)
      val rowsOut = res.select("query_id", "doc_id", "similarity").collect()
      val hits = rowsOut.groupBy(_.getLong(0)).map { case (k, v) => k -> v.map(_.getLong(1)).toSeq }
      val recall = probeVecs.indices.map(i => Exact.recall(hits.getOrElse(i.toLong, Nil), exact(i))).sum /
        probeVecs.length
      run.check(recall >= 0.6, f"ingest: batch $b read-probe recall@$K $recall%.3f below 0.6")
      val foundSim = rowsOut.filter(_.getLong(0) < SampleQueryBase).map(_.getDouble(2)).sum
      val exactSim = probeVecs.indices.map(i => exact(i).map(id => Exact.dot(probeVecs(i), vecOf(id))).sum).sum
      // a sampled row the probe missed must still be found by an exhaustive
      // search: every cell, every row on the shortlist, so the exact
      // re-rank decides. A shortlist of 40 over every cell left about one
      // row in 4,000 out, ranked below 40 others by its PQ code.
      val top1 = rowsOut.groupBy(_.getLong(0)).map { case (k, v) => k -> v.maxBy(_.getDouble(2)).getLong(1) }
      val missed = sample.filterNot(s => top1.get(SampleQueryBase + s).contains(s))
      val lost = if (missed.isEmpty) Nil else {
        val full = AnnIndex.open(spark, layout).searchManyRefine(
            Setup.queryFrame(spark, missed, missed.map(vecOf)), "query_id", "qe", raw, "doc_id", "emb",
            n = 1, shortlist = rows.toInt, nprobe = Nlist)
          .select("query_id", "doc_id").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        missed.filterNot(s => full.get(s).contains(s))
      }
      run.check(lost.isEmpty,
        s"ingest: batch $b rows not retrieved as their own top-1: ${lost.mkString(",")}")
      val (nFiles, maxFiles, bytes) = Setup.layoutStats(run, layout)
      compacted = nFiles < files
      if (compacted && b > 0) compactions += 1
      files = nFiles
      run.facts("IvfPqIndex.layout_files") = nFiles.toDouble
      run.facts("IvfPqIndex.layout_max_files_per_cell") = maxFiles.toDouble
      run.facts("IvfPqIndex.layout_bytes") = bytes.toDouble
      run.report("ingest_bytes_per_row") = (bytes.toDouble / rows, "B/row")
      if (b > 0) {
        ingestTimes += ingestS; readTimes += readS; recalls += recall; ratios += foundSim / exactSim
      }
    }

    run.operation { batch(0) }
    // the measured batches end on a compacting batch once two compactions
    // fell among them, so they cover whole compaction cycles
    measure(run, 1, max = IngestMaxBatches - 1, done = compacted && compactions >= 2) { u =>
      batch(u + 1)
    }
    run.facts("IvfPqIndex.compactions") = compactions.toDouble
    if (run.tracer.enabled) scanCost(run, AnnIndex.open(spark, layout), probeQ, IngestProbe)
    run.itemsPerS = ingestTimes.size * IngestBatch / ingestTimes.sum
    run.latencyP50S = Stats.median(readTimes.toSeq)
    run.quality = Stats.median(ratios.toSeq)
    run.report("ingest_rows_per_s") = (run.itemsPerS, "rows/s")
    run.report("ingest_read_p50_s") = (run.latencyP50S, "s")
    run.report("ingest_read_recall_at_10") = (Stats.median(recalls.toSeq), "ratio")
    run.report("ingest_read_sim_ratio") = (run.quality, "ratio")
    run.units ++= ingestTimes ++ readTimes
    run.report("ingest_batches") = (ingestTimes.size.toDouble, "count")
    run.report("ingest_compactions") = (compactions.toDouble, "count")
  }
}
