package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryException}
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.StreamOps

/** [[StreamOps.drain]], the one place a bounded stream is waited on and
  * stopped: nothing of the query runs after it returns, a stream with
  * no input returns no rows, and a failing batch surfaces as the
  * query's own exception. */
class StreamDrainSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  /** A 3-file parquet directory streamed one file per micro-batch. */
  private def threeBatchStream() = {
    val dir = java.nio.file.Files.createTempDirectory("graft_drain").toString
    spark.range(0, 30).repartition(3).write.mode("overwrite").parquet(dir)
    spark.readStream.schema(spark.read.parquet(dir).schema)
      .option("maxFilesPerTrigger", 1).parquet(dir)
  }

  test("no job or task of the drained query starts or ends after drain returns") {
    // jobId -> job group, and the latest driver-clock time of any job
    // start/end or task end seen per group
    val groupOf = new java.util.concurrent.ConcurrentHashMap[Int, String]()
    val lastEvent = new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()
    val stageGroup = new java.util.concurrent.ConcurrentHashMap[Int, String]()
    val barrierSeen = new java.util.concurrent.CountDownLatch(1)
    def note(group: String, t: Long): Unit =
      if (group != null) lastEvent.merge(group, t, (a, b) => math.max(a, b))
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val g = Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull
        if (g != null) {
          groupOf.put(e.jobId, g)
          e.stageIds.foreach(stageGroup.put(_, g))
        }
        note(g, e.time)
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = {
        val g = groupOf.get(e.jobId)
        note(g, e.time)
        if (g == "graft-drain-barrier") barrierSeen.countDown()
      }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        note(stageGroup.get(e.stageId), e.taskInfo.finishTime)
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val stream = threeBatchStream()
      var query: StreamingQuery = null
      val rows = StreamOps.drain { sink =>
        query = StreamOps.perBatch(stream)(sink); query
      }(_.collect().map(_.getLong(0)))
      val returnedAt = System.currentTimeMillis()
      assert(rows.sorted == (0L until 30L))
      // the listener bus is one FIFO queue: once a later job's end has
      // reached the listener, every event of the drained query has too
      spark.sparkContext.setJobGroup("graft-drain-barrier", "barrier")
      try {
        spark.sparkContext.runJob(spark.sparkContext.parallelize(Seq(1), 1),
          (it: Iterator[Int]) => it.size)
      } finally spark.sparkContext.clearJobGroup()
      assert(barrierSeen.await(30, java.util.concurrent.TimeUnit.SECONDS))
      val group = query.runId.toString
      assert(lastEvent.containsKey(group),
        s"no job ran in the query's group $group: ${lastEvent.keySet}")
      assert(lastEvent.get(group) <= returnedAt,
        s"an event of the drained query came ${lastEvent.get(group) - returnedAt} ms " +
          "after drain returned")
      assert(!query.isActive)
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("a stream over an empty directory runs no batch and drains to an empty Seq") {
    val dir = java.nio.file.Files.createTempDirectory("graft_drain_empty").toString
    val stream = spark.readStream
      .schema(new org.apache.spark.sql.types.StructType().add("id", "long"))
      .parquet(dir)
    var batches = 0
    val rows = StreamOps.drain(StreamOps.perBatch(stream)) { b =>
      batches += 1; b.collect().toSeq
    }
    assert(batches == 0)
    assert(rows.isEmpty)
  }

  test("a per-batch require failure reaches the caller as the query's exception") {
    val stream = threeBatchStream()
    var query: StreamingQuery = null
    val e = intercept[StreamingQueryException] {
      StreamOps.drain { sink =>
        query = StreamOps.perBatch(stream)(sink); query
      } { b =>
        require(b.isEmpty, "drain-spec refuses a non-empty batch")
        Nil
      }
    }
    assert(e.getMessage.contains("drain-spec refuses a non-empty batch"))
    assert(query.exception.contains(e))
    assert(!query.isActive)
  }
}
