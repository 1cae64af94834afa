package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{AnnIndex, IvfIndex, IvfPqIndex, OpqIndex, OpqIvfPqIndex, PqIndex}

/** Reopening a saved layout reads its kilobyte-sized artifacts on the
  * driver and plans the data scan from one footer: no Spark job runs,
  * on any tier, and the scan has the schema `spark.read.parquet` infers. */
class AnnOpenSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private val dim = 16

  private lazy val corpus: DataFrame = {
    val rnd = new scala.util.Random(9)
    val rows = (0 until 300).map(i => Row(i.toLong, Array.fill(dim)(rnd.nextGaussian().toFloat).toSeq))
    val schema = StructType(Seq(StructField("id", LongType, nullable = false),
      StructField("emb", ArrayType(FloatType, containsNull = false))))
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 3), schema)
  }

  private def withDir[T](body: String => T): T = {
    val dir = java.nio.file.Files.createTempDirectory("graft_open").toString
    def rm(f: java.io.File): Unit = {
      Option(f.listFiles()).getOrElse(Array.empty).foreach(rm); f.delete(): Unit
    }
    try body(dir) finally rm(new java.io.File(dir))
  }

  /** Jobs started while `body` runs. */
  private def jobs[T](body: => T): (T, Int) = {
    val n = new AtomicInteger
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = n.incrementAndGet(): Unit
    }
    org.apache.spark.TestBus.drain(spark.sparkContext)
    spark.sparkContext.addSparkListener(l)
    try {
      val out = body
      org.apache.spark.TestBus.drain(spark.sparkContext)
      (out, n.get)
    } finally spark.sparkContext.removeSparkListener(l)
  }

  private def rows(df: DataFrame): Set[Row] = df.collect().toSet

  test("AnnIndex.open starts 0 jobs on IvfPq, OPQ∘IvfPq and vector-tier layouts and serves the same rows") {
    val q = corpus.where(col("id") < 5).select(col("id").as("qid"), col("emb").as("qe"))
    withDir { dir =>
      val ivfpq = IvfPqIndex.build(corpus, "emb", nlist = 4, m = 4, k = 16, byResidual = true)
      ivfpq.save(s"$dir/ivfpq")
      val opq = OpqIvfPqIndex.build(corpus, "emb", nlist = 4, m = 4, k = 16, opqIters = 2)
      opq.save(s"$dir/opq")
      val ivf = IvfIndex.build(corpus, "emb", nlist = 4)
      ivf.save(s"$dir/ivf")
      for ((tier, built) <- Seq("ivfpq" -> (ivfpq: AnnIndex), "opq" -> (opq: AnnIndex),
          "ivf" -> ivf.asAnnIndex)) {
        val (opened, n) = jobs(AnnIndex.open(spark, s"$dir/$tier"))
        assert(n == 0, s"$tier: AnnIndex.open started $n jobs")
        assert(opened.dim == built.dim && opened.nlist == built.nlist, tier)
        assert(rows(opened.searchMany(q, "qid", "qe", "id", k = 5, nprobe = 2)) ==
          rows(built.searchMany(q, "qid", "qe", "id", k = 5, nprobe = 2)), tier)
      }
    }
  }

  test("the reopened data scan has the schema spark.read.parquet infers, before and after compaction") {
    withDir { dir =>
      IvfPqIndex.build(corpus, "emb", nlist = 4, m = 4, k = 16).save(s"$dir/ivfpq")
      IvfIndex.build(corpus, "emb", nlist = 4).save(s"$dir/ivf")
      def check(): Unit = {
        assert(IvfPqIndex.load(spark, s"$dir/ivfpq").encoded.schema ==
          spark.read.parquet(s"$dir/ivfpq/data").schema)
        assert(IvfIndex.load(spark, s"$dir/ivf").indexed.schema ==
          spark.read.parquet(s"$dir/ivf/data").schema)
      }
      check()
      IvfPqIndex.compactSaved(spark, s"$dir/ivfpq", targetFileBytes = 1L << 20)
      IvfIndex.compactSaved(spark, s"$dir/ivf", targetFileBytes = 1L << 20)
      check()
      assert(IvfPqIndex.load(spark, s"$dir/ivfpq").encoded.count() == 300L)
    }
  }

  test("artifacts written in Spark's legacy list encoding reopen identically") {
    withDir { dir =>
      val model = PqIndex.fit(corpus, "emb", m = 4, k = 16)
      val rot = OpqIndex.identityRotation(dim)
      val cents = IvfIndex.build(corpus, "emb", nlist = 4).centroidVectors
      val want = OpqIvfPqIndex.withArtifacts(corpus, "emb", rot, cents, model)
      want.save(s"$dir/std")
      spark.conf.set("spark.sql.parquet.writeLegacyFormat", "true")
      try want.save(s"$dir/legacy")
      finally spark.conf.unset("spark.sql.parquet.writeLegacyFormat")
      val std = OpqIvfPqIndex.load(spark, s"$dir/std")
      val legacy = OpqIvfPqIndex.load(spark, s"$dir/legacy")
      for (o <- Seq(std, legacy)) {
        assert(o.rotation.sameElements(rot))
        assert(o.inner.centroidVectors.map(_.toSeq).toSeq == cents.map(_.toSeq).toSeq)
        assert(o.model.codebooks.map(_.map(_.toSeq).toSeq).toSeq ==
          model.codebooks.map(_.map(_.toSeq).toSeq).toSeq)
        assert(o.model.m == model.m && o.model.dim == model.dim && o.model.lossless == model.lossless)
      }
    }
  }

  test("a centroid table with a column missing or of another type refuses by name") {
    withDir { dir =>
      IvfIndex.build(corpus, "emb", nlist = 4).save(dir)
      val s = spark
      import s.implicits._
      Seq((0L, Seq(1f, 2f))).toDF("cell", "centroid")
        .write.mode("overwrite").parquet(s"$dir/centroids")
      val wrongType = intercept[IllegalArgumentException](IvfIndex.load(spark, dir))
      assert(wrongType.getMessage.contains("'cell'"), wrongType.getMessage)
      Seq((0, Seq(1f, 2f))).toDF("cell", "vector")
        .write.mode("overwrite").parquet(s"$dir/centroids")
      val missing = intercept[IllegalArgumentException](IvfIndex.load(spark, dir))
      assert(missing.getMessage.contains("'centroid'"), missing.getMessage)
    }
  }
}
