package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}

/**
 * Per-job wall-clock breakdown for one or more declared queries — the
 * measurement half of an optimization round (guide §1: find WHERE the
 * time goes before touching anything). For each named query: one warm
 * run, then one timed run with a listener recording every Spark job's
 * duration, task count, and job group/description, printed slowest
 * first. Both runs build the query and write it to the noop sink
 * ([[Bench.materialize]]), as Bench times it. Not part of the driver
 * contract; a diagnostic main only.
 *
 * Run: SPARK_GRAFT_SF_DIR=... SPARK_GRAFT_CPUS=4 \
 *   sbt "runMain graft.JobProbe query1,query2"
 */
object JobProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val names = args.headOption.map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
      .getOrElse(Seq("pipeline_pretrain_semdedup_stream"))
    val spark = Bench.session()

    final case class JobRec(id: Int, desc: String, start: Long,
      var end: Long = -1L, var tasks: Int = 0, var stages: Int = 0)
    val jobs = new java.util.concurrent.ConcurrentHashMap[Int, JobRec]()
    // stage → job attribution uses SparkListenerJobStart.stageIds — the
    // EXACT mapping (r21 ADVICE; the old newest-unfinished-job heuristic
    // misattributed under AQE-spawned concurrent jobs)
    val stageToJob = new java.util.concurrent.ConcurrentHashMap[Int, Integer]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val p = Option(e.properties)
        // description when set; else the RDD scope name (the physical
        // operator that spawned the job — AQE stage materializations
        // name their exchange) + the SQL execution id
        val scope = p.flatMap(x => Option(x.getProperty("spark.rdd.scope")))
          .flatMap { j =>
            val m = """"name"\s*:\s*"([^"]+)"""".r.findFirstMatchIn(j)
            m.map(_.group(1))
          }.getOrElse("")
        val execId = p.flatMap(x => Option(x.getProperty("spark.sql.execution.id")))
          .map(i => s"exec=$i ").getOrElse("")
        val desc = p.flatMap(x => Option(x.getProperty("spark.job.description")))
          .getOrElse(execId + scope)
        jobs.put(e.jobId, JobRec(e.jobId, desc, e.time))
        e.stageIds.foreach(sid => stageToJob.put(sid, e.jobId))
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = {
        val r = jobs.get(e.jobId); if (r != null) r.end = e.time
      }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val info = e.stageInfo
        val jid = stageToJob.get(info.stageId) // null: stage of no recorded job
        val r = if (jid != null) jobs.get(jid.intValue) else null
        if (r != null) { r.tasks += info.numTasks; r.stages += 1 }
      }
    }
    spark.sparkContext.addSparkListener(listener)
    // listener-bus drain: poll until every recorded job has its end
    // event (bounded) instead of hoping one fixed sleep is enough
    def drainBus(): Unit = {
      val deadline = System.nanoTime() + 2_000_000_000L
      while (System.nanoTime() < deadline &&
        jobs.values().toArray(Array.empty[JobRec]).exists(_.end < 0))
        Thread.sleep(20)
    }

    // Bench's warm-up, so measured state matches bench state
    Bench.warm(spark, sfDir, names)

    // SPARK_GRAFT_PLAN_DIR=dir: also write <dir>/<query><suffix>.txt with the
    // explain("formatted") output of the timed run's write (suffix from
    // SPARK_GRAFT_PLAN_SUFFIX, default "_before") — the plan that ran
    val planDir = sys.env.get("SPARK_GRAFT_PLAN_DIR")
    val planSuffix = sys.env.getOrElse("SPARK_GRAFT_PLAN_SUFFIX", "_before")
    names.foreach { name =>
      val fn = SparkEntry.queries(name)
      // warm run (codegen/JIT) — not recorded
      try Bench.materialize(fn(spark, sfDir))
      catch { case e: Throwable => System.err.println(s"[probe] $name warm failed: $e") }
      jobs.clear(); stageToJob.clear()
      val (total, qe) = Bench.materialize(fn(spark, sfDir))
      drainBus()
      planDir.foreach { dir =>
        java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
        java.nio.file.Files.writeString(java.nio.file.Paths.get(dir, s"$name$planSuffix.txt"),
          qe.explainString(org.apache.spark.sql.execution.FormattedMode))
      }
      val recs = jobs.values().toArray(Array.empty[JobRec]).sortBy(_.id)
      val jobSum = recs.map(r => math.max(0L, r.end - r.start)).sum / 1e3
      println(f"%n===== $name: total $total%.3f s, jobs ${recs.length}, job-time sum $jobSum%.3f s =====")
      recs.sortBy(r => -(r.end - r.start)).take(30).foreach { r =>
        println(f"  job ${r.id}%4d  ${(r.end - r.start) / 1e3}%8.3f s  stages=${r.stages}%3d tasks=${r.tasks}%5d  ${r.desc.take(110)}")
      }
    }
    spark.stop()
  }
}
