package perfbench

import java.io.File

import org.apache.spark.sql.functions._

import graft.operators.{AnnIndex, TextAnalysis}

/** Checks that the benchmark's own checks can fail: each corrupts one output
  * (or times it the pruning way) and expects its check to catch it, after
  * the uncorrupted output passed. */
object SelfTest {
  def run(work: File): Int = {
    val spark = Main.session(work)
    val run = new Run(spark, new Tracer(spark, enabled = false), work, seed = 7L, seconds = 0)
    var failures = 0
    def expect(what: String, ok: Boolean): Unit = {
      println(s"${if (ok) "PASS" else "FAIL"} $what")
      if (!ok) failures += 1
    }
    /** Runs `body` on a clean tally and returns the problems it recorded. */
    def problems(body: => Unit): Seq[String] = {
      run.problems.clear()
      body
      run.problems.foreach(p => println(s"     check: $p"))
      run.problems.toList
    }

    // curate: the planted counts and recall hold on the real outputs, and a
    // decontaminated frame missing one clean document fails the check
    val in = Inputs.curate(run.seed, 600, Workloads.CurateParas)
    val docs = Setup.writeDocs(spark, in.docs, run.path("docs")).withColumnRenamed("id", "doc_id")
    import spark.implicits._
    val evalDf = in.evalTexts.toDF("text")
    var out: Workloads.CurateOut = null
    expect("curate outputs pass their checks and plan guards", problems {
      out = Workloads.curateChain(run, docs, evalDf)
      Workloads.checkCurate(run, in, out)
    }.isEmpty)
    val victim = out.clean.select("doc_id").head().getLong(0)
    val corrupt = out.copy(clean = out.clean.where(col("doc_id") =!= victim))
    expect("a decontaminate output missing one clean document fails its check",
      problems(Workloads.checkCurate(run, in, corrupt)).exists(_.contains("decontaminate")))
    val keptCopy = out.copy(surv = out.clean)
    expect("survivors that keep every near-duplicate fail the recall check",
      problems(Workloads.checkCurate(run, in, keptCopy)).exists(_.contains("recall")))

    // ANN recall against the brute-force top-k (the ingest read-probe
    // check), then with ids shifted
    val base = Inputs.plainDocs(run.seed, 2, 0L, 3000, Workloads.BaseParas)
    val vecs = Setup.writeVectors(Setup.writeDocs(spark, base, run.path("vdocs")), run.path("vecs"))
    val (ids, flat) = Setup.collectVectors(vecs)
    val qv = Setup.embedQueries(spark, Inputs.queryTexts(run.seed, 3, 64))
    val exact = Exact.topKMany(ids, flat, Setup.Dim, qv, Workloads.K)
    Setup.buildIndex(run, vecs, run.path("layout"))
    val idx = AnnIndex.open(spark, run.path("layout"))
    val q = Setup.queryFrame(spark, qv.indices.map(_.toLong), qv.toSeq)
    val res = idx.searchManyRefine(q, "query_id", "qe", vecs, "doc_id", "emb",
      n = Workloads.K, shortlist = Workloads.Shortlist, nprobe = Workloads.Nprobe)
    def recall(shift: Long): Double = {
      val found = res.select("query_id", "doc_id").collect()
        .groupBy(_.getLong(0)).map { case (k, v) => k -> v.map(_.getLong(1) + shift).toSeq }
      qv.indices.map(i => Exact.recall(found.getOrElse(i.toLong, Nil), exact(i))).sum / qv.length
    }
    val good = recall(0)
    val bad = recall(1)
    println(f"     ANN recall@10: $good%.3f, with ids shifted: $bad%.3f")
    expect("ANN recall passes the 0.6 floor", good >= 0.6)
    expect("ANN output with shifted ids fails the 0.6 floor", bad < 0.6)

    // materialization guard: the noop-sink plan keeps the operator a
    // count() plan prunes away
    val texts = Setup.textFrame(spark, Seq((0L, "alpha beta"), (1L, "gamma delta")))
    val emb = Setup.embedder.embed(texts, "text", "emb")
    emb.write.format("noop").mode("overwrite").save()
    expect("the guard sees hashing_embed in the noop-sink plan",
      PlanGuard.holds(emb, "hashing_embed"))
    expect("the guard misses hashing_embed in the count() plan",
      !PlanGuard.holds(emb.groupBy().count(), "hashing_embed"))
    val scored = TextAnalysis.lmScore(docs, "text", "doc_id")
    expect("the guard sees lmScore's surprisal sum in its full plan",
      PlanGuard.holds(scored, "__nll_micro"))
    expect("the guard misses it once the score column is pruned",
      !PlanGuard.holds(scored.select("doc_id"), "__nll_micro"))

    spark.stop()
    println(if (failures == 0) "selftest: all passed" else s"selftest: $failures failed")
    if (failures == 0) 0 else 1
  }
}
