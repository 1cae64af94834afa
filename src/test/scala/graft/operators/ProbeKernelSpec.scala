package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.expressions.ProbeCells
import graft.functions.{TopKScored, vectors}


/** The IVF probe rule runs map-side ([[ProbeCells]]): per query row,
  * the `nprobe` centroids of highest cosine, Spark's `desc` order, ties
  * to the lower cell. The reference it must equal is the plan the
  * family ran before — centroids × queries cross join, cosine per pair,
  * per-query bounded-heap top-`nprobe`, explode — kept here as a
  * test-local copy. Inputs stress the order: duplicate centroids
  * (exact ties), a zero centroid, zero / empty / short / long query
  * vectors, NaN and ±0.0 components, and random queries. */
class ProbeKernelSpec extends AnyFunSuite {
  lazy val spark = graft.TestSpark.spark

  /** The former `IvfIndex.probesForQueries`, verbatim in effect. */
  private def crossJoinProbes(centroidVectors: Array[Array[Float]], queries: DataFrame,
      nprobe: Int): DataFrame = {
    val s = spark
    import s.implicits._
    val centroids = centroidVectors.zipWithIndex.map { case (v, i) => (i, v) }
      .toSeq.toDF("cell", "centroid")
    centroids.crossJoin(broadcast(queries))
      .select(col("qid"), col("cell").cast("long").as("cell"),
        vectors.cosine_similarity(col("centroid"), col("qe")).as("__csim"))
      .groupBy(col("qid"))
      .agg(TopKScored.column(nprobe)(col("__csim"), col("cell")).as("__cells"))
      .select(col("qid"), col("__cells.id").as("cells"))
  }

  private val dim = 8

  private val centroidVectors: Array[Array[Float]] = {
    val rnd = new scala.util.Random(11)
    val base = Array.fill(6)(Array.fill(dim)(rnd.nextGaussian().toFloat))
    // cells 6 and 7 duplicate cells 1 and 3 (exact cosine ties); cell 8
    // is the origin (cosine 0 against everything); cell 9 is cell 2 scaled
    // (same cosine up to rounding)
    base ++ Array(base(1).clone(), base(3).clone(), Array.fill(dim)(0f),
      base(2).map(_ * 3f))
  }

  private val queryVectors: Seq[(Long, Array[Float])] = {
    val rnd = new scala.util.Random(5)
    val random = (0 until 40).map(i => (i.toLong, Array.fill(dim)(rnd.nextGaussian().toFloat)))
    val edge = Seq(
      Array.fill(dim)(0f),                                  // zero: every cell scores 0
      Array.empty[Float],                                   // empty
      centroidVectors(1).take(3),                           // short: common prefix
      centroidVectors(3) ++ Array(5f, -5f),                 // long: common prefix
      centroidVectors(1).clone(),                           // a duplicated centroid itself
      Array.tabulate(dim)(j => if (j == 2) Float.NaN else 1f),  // NaN component
      Array.fill(dim)(Float.NaN),
      Array.tabulate(dim)(j => if (j % 2 == 0) -0.0f else 0.0f), // signed zeros
      Array.tabulate(dim)(j => if (j == 0) Float.PositiveInfinity else 0.5f),
      centroidVectors(2).map(_ * -1f))
    random ++ edge.zipWithIndex.map { case (v, i) => (1000L + i, v) }
  }

  private def queryFrame(rows: Seq[(Long, Array[Float])], withNull: Boolean): DataFrame = {
    val schema = StructType(Seq(StructField("qid", LongType),
      StructField("qe", ArrayType(FloatType, containsNull = false))))
    val data = rows.map { case (q, v) => Row(q, v.toSeq) } ++
      (if (withNull) Seq(Row(2000L, null)) else Nil)
    spark.createDataFrame(spark.sparkContext.parallelize(data, 3), schema)
  }

  private def ordered(df: DataFrame): Map[Long, Seq[Long]] =
    df.collect().map(r => r.getLong(0) -> r.getSeq[Any](1).map {
      case i: Int => i.toLong
      case l: Long => l
    }).toMap

  test("probe_cells equals the cross-join top-nprobe block, order included, at every nprobe") {
    val (flat, d) = graft.expressions.NearestCell.flatten(centroidVectors)
    val q = queryFrame(queryVectors, withNull = true)
    for (nprobe <- Seq(1, 2, 3, 5, centroidVectors.length, centroidVectors.length + 3)) {
      // a NULL query vector probes no cell (the reference probed the lowest)
      val want = ordered(crossJoinProbes(centroidVectors, q, nprobe)) + (2000L -> Nil)
      for (codegen <- Seq("CODEGEN_ONLY", "NO_CODEGEN")) {
        spark.conf.set("spark.sql.codegen.factoryMode", codegen)
        try {
          val got = ordered(q.select(col("qid"), ColumnBridge.column(ProbeCells(
            ColumnBridge.expression(col("qe")), flat, d, nprobe)).as("cells")))
          assert(got == want, s"nprobe $nprobe, $codegen")
        } finally spark.conf.unset("spark.sql.codegen.factoryMode")
      }
      // single-query search probes by the same rule, driver-side
      val idx = IvfIndex.withCentroids(q.limit(0), "qe", centroidVectors)
      for ((qid, v) <- queryVectors)
        assert(idx.probeCells(v, nprobe).map(_.toLong).toSeq == want(qid),
          s"driver probe of query $qid at nprobe $nprobe")
    }
  }

  test("probesMany equals the cross-join block on every tier's probe seam; NULL query vectors probe no cells") {
    val q = queryFrame(queryVectors, withNull = true)
    val corpus = queryFrame(queryVectors.filter(_._1 < 1000L), withNull = false)
      .select(col("qid").as("id"), col("qe").as("emb"))
    val vecTier = IvfIndex.withCentroids(corpus, "emb", centroidVectors).asAnnIndex
    val model = PqIndex.fit(corpus, "emb", m = 2, k = 4)
    val coded = IvfPqIndex.withArtifacts(corpus, "emb", centroidVectors, model)
    for (nprobe <- Seq(1, 3, centroidVectors.length)) {
      val want = crossJoinProbes(centroidVectors, q, nprobe)
        .select(col("qid"), explode(col("cells")).as("cell"))
        .select(col("qid"), col("cell").cast("int"))
        .collect().map(r => (r.getLong(0), r.getInt(1))).toSet.filter(_._1 != 2000L)
      for (idx <- Seq(vecTier, coded)) {
        val got = idx.probesMany(q, "qid", "qe", nprobe).collect()
          .map(r => (r.getLong(0), r.getInt(1)))
        assert(got.length == got.toSet.size, "one row per (query, cell)")
        assert(got.toSet == want, s"nprobe $nprobe")
        assert(got.filter(_._1 == 2000L).isEmpty, "a NULL query vector probes no cells")
      }
    }
  }

  /** The former IVFADC `searchMany` plan around [[crossJoinProbes]]:
    * probes and queries broadcast separately, the residual addend
    * joined in from the centroid frame. */
  private def crossJoinSearch(idx: IvfPqIndex, queries: DataFrame, k: Int,
      nprobe: Int): DataFrame = {
    import graft.expressions.PqQueryDot
    val probes = crossJoinProbes(idx.centroidVectors, queries, nprobe)
      .select(col("qid"), explode(col("cells")).as("cell"))
      .select(col("qid"), col("cell").cast("int").as("cell"))
    val withAddend =
      if (!idx.byResidual) probes.withColumn("__qc", lit(0.0))
      else probes.join(broadcast(idx.centroids), Seq("cell"))
        .join(broadcast(queries.select("qid", "qe")), Seq("qid"))
        .select(col("qid"), col("cell"),
          vectors.dot_product(col("centroid"), col("qe")).as("__qc"))
    val m = idx.model
    val adc = ColumnBridge.column(PqQueryDot(ColumnBridge.expression(col(idx.codesCol)),
      ColumnBridge.expression(col("qe")), m.m, m.sub, m.flatCodewords, m.offsets, m.codeBytes))
    val dot = if (idx.byResidual) adc + col("__qc") else adc
    val qnorm = vectors.vector_norm(col("qe"))
    val sim = coalesce(when(col(idx.normCol) === 0.0 || qnorm === 0.0, lit(0.0))
      .otherwise(dot / (qnorm * col(idx.normCol))), lit(0.0))
    idx.encoded.join(broadcast(withAddend), Seq("cell"))
      .join(broadcast(queries), Seq("qid"))
      .select(col("qid"), col("id").cast("long").as("id"), sim.as("similarity"))
      .groupBy(col("qid"))
      .agg(TopKScored.column(k)(col("similarity"), col("id")).as("__topk"))
      .select(col("qid"), explode(col("__topk")).as("__e"))
      .select(col("qid"), col("__e.id").as("id"), col("__e.score").as("similarity"))
  }

  test("IVFADC searchMany serves the rows of the former cross-join plan, raw and residual, NULL vectors and ids included") {
    val corpus = queryFrame(queryVectors.filter(_._1 < 1000L), withNull = false)
      .select(col("qid").as("id"), col("qe").as("emb"))
    val schema = StructType(Seq(StructField("qid", LongType),
      StructField("qe", ArrayType(FloatType, containsNull = false))))
    val nullId = spark.createDataFrame(spark.sparkContext.parallelize(
      Seq(Row(null, centroidVectors(0).toSeq)), 1), schema)
    // the coded scorer refuses wrong-dim queries, before and after alike
    val q = queryFrame(queryVectors.filter(_._2.length == dim), withNull = true)
      .unionByName(nullId)
    val model = PqIndex.fit(corpus, "emb", m = 2, k = 4)
    for (byResidual <- Seq(false, true); nprobe <- Seq(1, 3, centroidVectors.length)) {
      val idx = IvfPqIndex.withArtifacts(corpus, "emb", centroidVectors, model,
        byResidual = byResidual)
      val got = idx.searchMany(q, "qid", "qe", "id", k = 4, nprobe = nprobe)
      // a NULL query vector probes no cell, so it serves no rows
      val want = crossJoinSearch(idx, q, 4, nprobe).where(col("qid") =!= 2000L)
      assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty,
        s"byResidual $byResidual, nprobe $nprobe")
    }
  }

  test("the probe block plans no join, no shuffle and no aggregate") {
    val q = queryFrame(queryVectors, withNull = true)
    val corpus = q.where(col("qe").isNotNull).select(col("qid").as("id"), col("qe").as("emb"))
    val idx = IvfIndex.withCentroids(corpus, "emb", centroidVectors).asAnnIndex
    val p = idx.probesMany(q, "qid", "qe", 3).queryExecution.executedPlan.toString
    assert(p.contains("probe_cells"), p)
    assert(!p.contains("Exchange") && !p.contains("Join") && !p.contains("Aggregate"), p)
  }
}
