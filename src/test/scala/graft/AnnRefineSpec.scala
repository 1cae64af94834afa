package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{AnnIndex, IvfIndex, IvfPqIndex, OpqIvfPqIndex}

/** The exact re-rank ([[AnnIndex.searchRefine]] /
  * [[AnnIndex.searchManyRefine]]) is written once, on the trait: every
  * tier must refuse the same bad knobs by name, before any search runs,
  * and serve the same well-formed call. */
class AnnRefineSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val dim = 8

  private lazy val corpus = {
    val rnd = new scala.util.Random(3)
    (0L until 120L).map { i =>
      (i, Array.tabulate(dim)(d =>
        (if (d == i % dim) 2f else 0f) + rnd.nextFloat()).toSeq)
    }.toDF("vec_id", "embedding")
      .withColumn("embedding", col("embedding").cast("array<float>"))
  }

  private lazy val tiers: Seq[(String, AnnIndex)] = Seq(
    "IvfIndex.asAnnIndex" -> IvfIndex.build(corpus, "embedding", nlist = 4).asAnnIndex,
    "IvfPqIndex" -> IvfPqIndex.build(corpus, "embedding", nlist = 4, m = 4, k = 8),
    "OpqIvfPqIndex" -> OpqIvfPqIndex.build(corpus, "embedding", nlist = 4, m = 4,
      k = 8, opqIters = 2))

  test("shared re-rank refusals: n < 1, shortlist < n, shortlist > maxShortlist on every tier") {
    val q = corpus.where(col("vec_id") === 5L).select("embedding").head()
      .getSeq[Float](0).toArray
    val queries = corpus.where(col("vec_id") < 3L)
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"))
    // (case, n, shortlist, maxShortlist, message fragment)
    val single = Seq(
      ("n < 1", 0, 5, 4096, "need shortlist"),
      ("shortlist < n", 5, 3, 4096, "need shortlist"),
      ("shortlist > maxShortlist", 2, 10, 8, "exceeds maxShortlist"))
    for ((tier, idx) <- tiers; (what, n, sl, maxSl, msg) <- single) {
      val e = intercept[IllegalArgumentException](
        idx.searchRefine(corpus, "vec_id", "embedding", q, n = n,
          shortlist = sl, nprobe = 4, maxShortlist = maxSl))
      assert(e.getMessage.contains(msg), s"$tier / $what: ${e.getMessage}")
    }
    // the batch form has no driver id-collect, hence no maxShortlist
    for ((tier, idx) <- tiers; (what, n, sl, _, msg) <- single.take(2)) {
      val e = intercept[IllegalArgumentException](
        idx.searchManyRefine(queries, "query_id", "qe", corpus, "vec_id",
          "embedding", n = n, shortlist = sl, nprobe = 4))
      assert(e.getMessage.contains(msg), s"$tier / $what (batch): ${e.getMessage}")
    }
    // the same knobs one step inside the bounds serve on every tier
    for ((tier, idx) <- tiers) {
      assert(idx.searchRefine(corpus, "vec_id", "embedding", q, n = 2,
        shortlist = 8, nprobe = 4, maxShortlist = 8).count() == 2L, tier)
      assert(idx.searchManyRefine(queries, "query_id", "qe", corpus, "vec_id",
        "embedding", n = 2, shortlist = 4, nprobe = 4).count() == 6L, tier)
    }
  }
}
