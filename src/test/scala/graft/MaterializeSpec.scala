package graft

import org.apache.spark.sql.execution.FormattedMode
import org.apache.spark.sql.functions.{col, count, lit, udf}
import org.scalatest.funsuite.AnyFunSuite

/** [[Bench.materialize]] — the one materialization Bench and JobProbe
  * time and dump plans through — evaluates every output column, and the
  * plan it returns is the plan its write ran. */
class MaterializeSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("materialize evaluates an output column that count() prunes") {
    val calls = spark.sparkContext.longAccumulator("materialize-udf-calls")
    val bump = udf((x: Long) => { calls.add(1); x * 2 })
    val df = spark.range(0, 1000, 1, 4).withColumn("doubled", bump(col("id")))
    assert(df.count() == 1000)
    assert(calls.value == 0, "count() prunes the UDF column")
    val (seconds, _) = Bench.materialize(df)
    assert(seconds > 0.0)
    assert(calls.value == 1000, "the noop write evaluates the UDF once per row")
  }

  test("materialize returns the final plan its write ran, operator included") {
    val bump = udf((x: Long) => x * 2)
    val df = spark.range(0, 1000, 1, 4)
      .groupBy((col("id") % 7).as("k")).agg(count(lit(1)).as("c"))
      .withColumn("doubled", bump(col("c")))
    val (_, qe) = Bench.materialize(df)
    val plan = qe.explainString(FormattedMode)
    assert(plan.contains("isFinalPlan=true") && !plan.contains("isFinalPlan=false"), plan)
    assert(plan.contains("HashAggregate") && plan.contains("UDF"), plan)
  }
}
