package graft.tools

import graft.SparkTestSession
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

class ExecutedPlanDumpSpec extends AnyFunSuite with SparkTestSession {

  test("prints the frame's own final adaptive plan") {
    // a shuffle, so AQE wraps the plan and re-plans it at run time
    val df = spark.range(0, 1000, 1, 4).groupBy((col("id") % 7).as("k")).count()
    val plan = ExecutedPlanDump.executedPlan(df)
    assert(plan.contains("AdaptiveSparkPlan isFinalPlan=true"), plan)
    assert(!plan.contains("isFinalPlan=false"), plan)
  }
}
