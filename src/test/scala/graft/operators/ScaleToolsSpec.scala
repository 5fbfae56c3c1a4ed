package graft.operators

import graft.SparkTestSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The 100 TB lever on a partitioned fact table: a selective dim filter
  * prunes the fact scan at runtime (dynamic partition pruning).
  */
class ScaleToolsSpec extends AnyFunSuite with SparkTestSession {

  test("dynamic partition pruning fires for a selective dim filter") {
    import spark.implicits._
    // fact partitioned by event_type (the events table's five types), dim
    // filtered to ONE type: the fact scan must be pruned at RUNTIME by the
    // dim-side filter result (DPP) — at 100 TB this is the difference
    // between scanning one partition and scanning the table
    val out = java.nio.file.Files.createTempDirectory("graft_dpp").toString + "/events"
    val types = Seq("click", "error", "purchase", "signup", "view")
    (0L until 1000L).map(i => (i, types((i % types.length).toInt)))
      .toDF("event_id", "event_type")
      .write.partitionBy("event_type").parquet(out)
    val fact = spark.read.parquet(out)
    // dim must be a SOURCE with a selective predicate (a plan-time local
    // relation folds the filter away and DPP sees nothing to reuse)
    val dimPath = java.nio.file.Files.createTempDirectory("graft_dpp_dim").toString
    Seq(("purchase", 1L), ("refund", 2L)).toDF("etype", "type_id")
      .write.mode("overwrite").parquet(dimPath)
    val dim = spark.read.parquet(dimPath)
    val q = fact.join(dim, col("event_type") === col("etype"))
      .filter(col("type_id") === 1L)
      .groupBy(col("event_type")).agg(count(lit(1)).as("n"))
    val rows = q.collect()
    assert(rows.length == 1 && rows.head.getString(0) == "purchase")
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("dynamicpruning"),
      s"expected a dynamic partition pruning subquery in:\n$plan")
  }
}
