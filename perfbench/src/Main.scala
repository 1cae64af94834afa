package perfbench

import java.io.File

import scala.io.Source

import org.apache.spark.sql.SparkSession

/** Entry point of the benchmark JVM; `perfbench/run.py` builds and launches it.
  *
  * {{{
  * Main --workload <curate|serve|ingest> --seed <n> --seconds <s>
  *      --trace <0|1> --work <dir> --trace-out <file>
  * Main --selftest --work <dir>
  * Main --classes --work <dir>
  * }}}
  *
  * The last stdout line is the result object; the lines before it name every
  * end-to-end metric of the workload with its unit. */
object Main {
  /** Per-layer metrics with their units, in output order; BENCHMARK.json lists the same. */
  val layerUnits: Seq[(String, String)] = Seq(
    "spark.actions" -> "count", "spark.jobs" -> "count", "spark.tasks" -> "count",
    "spark.planning_s" -> "s", "spark.driver_only_s" -> "s", "spark.job_s" -> "s",
    "spark.executor_cpu_s" -> "s", "spark.gc_s" -> "s", "spark.shuffle_bytes" -> "B",
    "spark.fetch_wait_s" -> "s", "spark.spill_bytes" -> "B", "spark.input_bytes" -> "B",
    "spark.block_bytes_stored" -> "B", "spark.task_skew" -> "ratio",
    "spark.failed_tasks" -> "count",
    "Dedup.dedupParagraphs_s" -> "s", "Dedup.decontaminate_s" -> "s",
    "Dedup.minhashPairs_s" -> "s", "Dedup.survivors_s" -> "s",
    "Dedup.paragraphs_dropped" -> "count", "Dedup.decon_removed" -> "count",
    "Dedup.minhash_pairs" -> "count", "Dedup.minhash_precision" -> "ratio",
    "TextAnalysis.lmScore_s" -> "s", "TextAnalysis.qualityBuckets_s" -> "s",
    "TextAnalysis.qualityBuckets_construct_s" -> "s",
    "Embedder.embed_s" -> "s", "Embedder.rows_per_s" -> "rows/s",
    "IvfPqIndex.build_s" -> "s", "AnnIndex.open_s" -> "s",
    "AnnIndex.searchManyRefine_s" -> "s", "AnnIndex.scanned_rows_per_query" -> "rows",
    "AnnIndex.cell_skew" -> "ratio", "AnnIndex.hits_per_scanned_row" -> "ratio",
    "IvfPqIndex.ingestBatch_s" -> "s", "IvfPqIndex.compactions" -> "count",
    "IvfPqIndex.layout_files" -> "count", "IvfPqIndex.layout_max_files_per_cell" -> "count",
    "IvfPqIndex.layout_bytes" -> "B",
    "Nearest.mmrTopKManyFromIndex_s" -> "s",
    "spark.self_s" -> "s", "bench.self_s" -> "s", "Dedup.self_s" -> "s",
    "TextAnalysis.self_s" -> "s", "Embedder.self_s" -> "s", "AnnIndex.self_s" -> "s",
    "Nearest.self_s" -> "s")

  private def arg(args: Array[String], name: String): Option[String] =
    args.sliding(2).collectFirst { case Array(`name`, v) => v }

  def session(work: File): SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("perfbench")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", new File(work, "spark-local").getAbsolutePath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getAbsolutePath)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** High-water resident set of this JVM, from /proc. */
  def peakRssMb(): Double = {
    val src = Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024.0
    }.getOrElse(0.0)
    finally src.close()
  }

  /** Loads the classes a run needs (session start, a library operator, a
    * noop write), for recording a class-data archive around it. */
  private def loadClasses(work: File): Unit = {
    val spark = session(work)
    import spark.implicits._
    Setup.embedder.embed(Seq((0L, "a b c")).toDF("id", "text"), "text", "e")
      .write.format("noop").mode("overwrite").save()
    spark.stop()
  }

  def main(args: Array[String]): Unit = {
    val work = new File(arg(args, "--work").getOrElse(sys.error("--work <dir> is required")))
    if (args.contains("--selftest")) sys.exit(SelfTest.run(work))
    if (args.contains("--classes")) return loadClasses(work)
    val workload = arg(args, "--workload").getOrElse(sys.error("--workload is required"))
    require(Workloads.names.contains(workload),
      s"unknown workload '$workload'; one of ${Workloads.names.mkString(", ")}")
    val seed = arg(args, "--seed").getOrElse("1").toLong
    val seconds = arg(args, "--seconds").getOrElse("10").toDouble
    val trace = arg(args, "--trace").getOrElse("0") == "1"

    val t0 = System.nanoTime()
    val spark = session(work)
    val sessionS = (System.nanoTime() - t0) / 1e9
    val run = new Run(spark, new Tracer(spark, trace), work, seed, seconds)
    run.setupS = sessionS
    try Workloads(workload, run)
    catch {
      case e: Exception =>
        run.attempted += 1
        run.failed += 1
        run.problems += s"$workload aborted: ${e.getClass.getSimpleName}: ${e.getMessage}"
    }
    run.report("setup_s") = (run.setupS, "s")
    run.report("session_start_s") = (sessionS, "s")
    run.report("failed_frac") = (run.failed.toDouble / math.max(run.attempted, 1), "ratio")
    run.report("peak_rss_mb") = (peakRssMb(), "MB")
    val layers =
      if (!trace) Map.empty[String, Double]
      else {
        val m = run.tracer.layerMetrics(Workloads.spanMetrics) ++ run.facts
        val embedS = m.getOrElse("Embedder.embed_s", 0.0)
        val embedRows = workload match {
          case "serve" => Workloads.ServeBatch
          case "ingest" => Workloads.IngestBatch
          case _ => 0
        }
        m + ("Embedder.rows_per_s" -> (if (embedS > 0) embedRows / embedS else 0.0))
      }
    arg(args, "--trace-out").filter(_ => trace).foreach(f => run.tracer.writeJsonLines(new File(f)))
    spark.stop()

    run.problems.foreach(p => println(s"check failed: $p"))
    for ((k, (v, unit)) <- run.report) println(f"metric $workload%-7s $k%-32s $v%14.6f $unit")
    println(s"units  $workload ${run.units.map(t => f"$t%.3f").mkString(" ")}")
    for ((k, unit) <- layerUnits if trace)
      println(f"layer  $workload%-7s $k%-40s ${layers.getOrElse(k, 0.0)}%14.6f $unit")
    // a run whose every unit failed has no rates; it reports 0 and correct = false
    def metric(v: Double, unit: String) =
      Seq("value" -> (if (v.isNaN || v.isInfinite) 0.0 else v), "unit" -> unit)
    val metrics: Seq[(String, Any)] =
      if (!trace) Seq(
        "setup_s" -> metric(run.setupS, "s"),
        "items_per_s" -> metric(run.itemsPerS, "1/s"),
        "latency_p50_s" -> metric(run.latencyP50S, "s"),
        "quality" -> metric(run.quality, "ratio"))
      else layerUnits.map { case (k, unit) => k -> metric(layers.getOrElse(k, 0.0), unit) }
    val correct = run.problems.isEmpty
    println(Json.obj(Seq("correct" -> correct, "attempted" -> run.attempted,
      "failed" -> run.failed, "metrics" -> metrics)))
    sys.exit(if (correct) 0 else 1)
  }
}
