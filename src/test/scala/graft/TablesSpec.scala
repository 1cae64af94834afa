package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.StreamOps

/** The fixture-read seam (`Tables.normalizeNanoTs`): both NTZ branches
  * — the UTC fast path (bare cast, zero per-row zone arithmetic) and
  * the general `convert_timezone` path a non-UTC launcher takes — must
  * map the same NTZ wall-clock to the same INSTANT. */
class TablesSpec extends AnyFunSuite {
  private val spark = TestSpark.spark

  private def ntzFixture = spark.range(0, 500).selectExpr(
    "id",
    // spans a DST spring-forward boundary (2024-03-10 US) on purpose:
    // the instants must still agree because both branches anchor the
    // wall-clock to UTC, which has no transitions
    "cast('2024-03-09 22:45:00' as timestamp_ntz) + make_interval(0,0,0,0,0,0, id*97) as ts")

  test("NTZ seam: UTC fast path and convert_timezone path yield identical instants") {
    val tzConf = "spark.sql.session.timeZone"
    val df = ntzFixture
    // UTC session (the shipped launcher) → fast path
    assert(spark.conf.get(tzConf) == "UTC")
    val fast = Tables.normalizeNanoTs(df)
      .select(col("id"), col("ts").cast("long").as("epoch")) // epoch is zone-independent
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // non-UTC session → convert_timezone path on the same input
    spark.conf.set(tzConf, "America/New_York")
    try {
      val conv = Tables.normalizeNanoTs(df)
        .select(col("id"), col("ts").cast("long").as("epoch"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(conv.size == 500 && fast.size == 500)
      assert(conv == fast)
      // and the anchor is UTC: wall 22:45:00 on 2024-03-09 == that instant
      val expected0 = java.time.LocalDateTime.of(2024, 3, 9, 22, 45, 0)
        .toEpochSecond(java.time.ZoneOffset.UTC)
      assert(fast(0L) == expected0)
    } finally spark.conf.set(tzConf, "UTC")
  }

  test("NTZ seam: UTC aliases all take the fast-path semantics") {
    // Z / +00:00 / Etc/UTC normalize to the UTC offset; the seam must
    // treat them as UTC (same instants as the canonical session)
    val tzConf = "spark.sql.session.timeZone"
    val df = ntzFixture
    val base = Tables.normalizeNanoTs(df)
      .select(col("ts").cast("long")).collect().map(_.getLong(0)).toSeq
    for (alias <- Seq("Z", "+00:00", "Etc/UTC")) {
      spark.conf.set(tzConf, alias)
      try {
        val got = Tables.normalizeNanoTs(df)
          .select(col("ts").cast("long")).collect().map(_.getLong(0)).toSeq
        assert(got == base, s"alias $alias diverged")
      } finally spark.conf.set(tzConf, "UTC")
    }
  }

  test("schema memo: a rewritten file reopens as a stream with its new schema after clearSchemaCache") {
    import java.nio.file.{Files, StandardCopyOption}
    val dir = Files.createTempDirectory("graft_tables_stream")
    // one parquet file at dir/t.parquet, replaced in place
    def writeAs(df: org.apache.spark.sql.DataFrame): Unit = {
      val tmp = Files.createTempDirectory("graft_tables_stream_w").toString
      df.coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      Files.copy(part.toPath, dir.resolve("t.parquet"),
        StandardCopyOption.REPLACE_EXISTING)
    }
    writeAs(spark.range(3).toDF("id"))
    assert(StreamOps.readParquetStream(spark, dir.toString, "t.parquet")
      .columns.toSeq == Seq("id"))
    writeAs(spark.range(3).selectExpr("id", "cast(id as string) as name"))
    Tables.clearSchemaCache()
    val reopened = StreamOps.readParquetStream(spark, dir.toString, "t.parquet")
    assert(reopened.columns.toSeq == Seq("id", "name"))
    val rows = StreamOps.drain(StreamOps.perBatch(reopened))(
      _.collect().map(r => (r.getLong(0), r.getString(1))))
    assert(rows.sorted == Seq((0L, "0"), (1L, "1"), (2L, "2")))
  }
}
