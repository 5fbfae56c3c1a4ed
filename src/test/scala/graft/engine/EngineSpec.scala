package graft.engine

import graft.SparkTestSession
import graft.core._
import graft.kernel.Estimator
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The kernel on Spark: sweep semantics (N rows == N single-row results),
  * reject routing, and the SQL struct UDF — SURVEY.md §3 lifecycle mapping.
  */
class EngineSpec extends AnyFunSuite with SparkTestSession {

  private def grid = Engine.demoGrid

  test("sweep of N scenarios equals N single-row kernel results") {
    import spark.implicits._
    val ds = spark.createDataset(grid)
    val swept = Engine.sweep(ds).collect().map(o => o.input.project_name -> o).toMap
    assert(swept.size == grid.size)
    grid.foreach { in =>
      val local = Engine.estimateOne(in)
      val dist = swept(in.project_name)
      assert(dist.result == local.result, s"result mismatch for ${in.project_name}")
      assert(dist.error == local.error, s"error mismatch for ${in.project_name}")
    }
  }

  test("sweep is a narrow plan: no shuffle exchange") {
    import spark.implicits._
    val plan = Engine.sweep(spark.createDataset(grid))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"sweep plan must not shuffle:\n$plan")
  }

  test("valid and invalid rows route to results and rejects exactly") {
    import spark.implicits._
    val good = grid.take(10)
    val bad = Seq(
      EstimationInput(project_name = "   "),
      EstimationInput(project_name = "neg", messages_per_second = -1),
      EstimationInput(project_name = "vm no size", worker_node_type = "VM"))
    val ds = spark.createDataset(scala.util.Random.shuffle(good ++ bad))
    val (results, rejects) = Engine.sweep(ds).collect().partition(_.ok)
    assert(results.length == good.size)
    assert(rejects.length == bad.size)
    assert(rejects.forall(o => o.result.isEmpty && o.error.isDefined))
    assert(results.forall(_.error.isEmpty))
    assert(rejects.map(_.input.project_name).toSet == Set("   ", "neg", "vm no size"))
  }

  test("flink_estimate UDF returns the golden struct in SQL") {
    Engine.registerUdfs(spark)
    import spark.implicits._
    val df = spark.createDataset(Seq(
      EstimationInput(project_name = "VM Test",
        worker_node_type = "VM", worker_node_t_size = Some("S"))))
    df.createOrReplaceTempView("scenarios")
    val row = spark.sql(
      """SELECT flink_estimate(struct(s.*)) AS r FROM scenarios s""")
      .select(
        col("r.resource_estimates.total_memory_mb"),
        col("r.resource_estimates.total_cpus"),
        col("r.cluster_recommendations.taskmanagers.count"))
      .head()
    // The 6144/4/1-TM golden (test_basic_estimation.py:290-301).
    assert(row.getLong(0) == 6144L)
    assert(row.getInt(1) == 4)
    assert(row.getInt(2) == 1)
  }

  test("flink_estimate_error UDF surfaces the reject reason in SQL") {
    Engine.registerUdfs(spark)
    import spark.implicits._
    val df = spark.createDataset(Seq(EstimationInput(project_name = "   ")))
    df.createOrReplaceTempView("bad_scenarios")
    val err = spark.sql(
      """SELECT flink_estimate_error(struct(s.*)) AS e,
        |       flink_estimate(struct(s.*)) AS r
        |FROM bad_scenarios s""".stripMargin).head()
    assert(err.getString(0).contains("Project name cannot be empty"))
    assert(err.isNullAt(1))
  }

  test("q121 kernel passes: independent spot recomputation + structural pins") {
    val df = Engine.kernelPassesQuery(spark, "/root/testdata/sf0.001")
    val rows = df.collect()
    assert(rows.length == Engine.demoGrid.size)
    val byName = rows.map(r => r.getString(0) -> r).toMap
    assert(byName.size == rows.length) // project_name is the unique key
    // grid-wide constants: keys=1e6 -> JM S tier; node mem 16384 either way
    rows.foreach { r =>
      assert(r.getLong(r.fieldIndex("jm_cpu")) == 1L)
      assert(r.getLong(r.fieldIndex("jm_memory_mb")) == 2048L)
      assert(r.getLong(r.fieldIndex("per_tm_cap_mb")) == 15872L)
    }
    // spot row recomputed from the published formulas, independent of the
    // kernel functions: mps=1000, lat=0.5, (s,m,c)=(1,0,0)
    val spot = byName("grid mps=1000 lat=0.5 s=1 m=0 c=0 skew=low node=S")
    val thr = 1000.0 * 512 / (1024.0 * 1024.0) // 0.48828125, exact
    assert(spot.getLong(spot.fieldIndex("thr_fix")) ==
      math.floor(thr * 1e6).toLong)
    assert(spot.getLong(spot.fieldIndex("mm_permille")) == 320L)
    assert(spot.getLong(spot.fieldIndex("state_mem_fix")) == 0L) // m+c=0
    assert(spot.getLong(spot.fieldIndex("cpu_factor_permille")) == 1500L)
    val buffer = math.ceil(
      thr * 1.4 * (1.0 + 0.02 * 0.5) * 2.0 + // recScale at 512B, pressure at 0.5s
        0.4 * (thr * 0.5) +                  // in-flight at latCapped=0.5
        256.0 * (1.0 + 0.01 * 1)).toLong     // pipe = 1 statement
    assert(spot.getLong(spot.fieldIndex("buffer_mb_1tm")) == buffer)
    // state pass live where m+c > 0: lat=5.0 -> pct 0.4;
    // bytes = 1e6*(m+c)*512, mb exact, ceil, /0.4
    val st = byName("grid mps=1000 lat=5.0 s=0 m=2 c=2 skew=low node=S")
    val mb = math.ceil(1000000.0 * 4 * 512 / 1048576.0)
    assert(st.getLong(st.fieldIndex("state_mem_fix")) ==
      math.floor(mb / 0.4 * 1000).toLong)
    assert(st.getLong(st.fieldIndex("mm_permille")) == 400L)
  }

  test("sweepQuery produces one row per grid scenario") {
    val df = Engine.sweepQuery(spark, "/root/testdata/sf0.001")
    val rows = df.collect()
    assert(rows.length == grid.size)
    // every row either succeeded (tm_count set) or carries an error
    rows.foreach { r =>
      val hasResult = !r.isNullAt(r.fieldIndex("tm_count"))
      val hasError = !r.isNullAt(r.fieldIndex("error"))
      assert(hasResult ^ hasError, s"row must have exactly one of result/error: $r")
    }
  }

  test("bulk sweep throughput: 20k scenarios complete distributed") {
    import spark.implicits._
    // deterministic 20k-scenario expansion of the demo grid
    val scenarios = spark.range(20000).map { n =>
      val base = Engine.demoGrid((n % Engine.demoGrid.size).toInt)
      base.copy(project_name = s"bulk $n",
        num_distinct_keys = 1000L + (n % 1000) * 1000)
    }
    val t0 = System.nanoTime()
    val n = Engine.sweep(scenarios).filter(_.result.isDefined).count()
    val secs = (System.nanoTime() - t0) / 1e9
    info(f"20k-scenario sweep: $secs%.2f s (${20000 / secs}%.0f scenarios/s)")
    assert(n == 20000L)
    // generous wall-clock bound: the sweep is a narrow map; anything slow
    // here means the kernel regressed catastrophically
    assert(secs < 60.0, s"sweep took $secs s")
  }

  test("distributed sweep matches the reference golden across the grid (spot)") {
    // VM-S default row computed through Spark must equal the direct kernel call.
    val in = EstimationInput(project_name = "VM Test",
      worker_node_type = "VM", worker_node_t_size = Some("S"))
    import spark.implicits._
    val viaSpark = Engine.sweep(spark.createDataset(Seq(in))).head().result
    assert(viaSpark == Estimator.estimate(in).toOption)
    assert(viaSpark.isDefined)
  }

  test("flink_estimate on a NULL struct returns NULL, not an executor NPE") {
    // the documented IS-NULL reject path must hold for a null INPUT too —
    // the shape an outer join produces
    Engine.registerUdfs(spark)
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("s",
        org.apache.spark.sql.Encoders.product[EstimationInput].schema, nullable = true)))
    val df = spark.createDataFrame(
      java.util.Arrays.asList(org.apache.spark.sql.Row(null)), schema)
    df.createOrReplaceTempView("null_estimate_in")
    val row = spark.sql(
      "SELECT flink_estimate(s) AS r, flink_estimate_error(s) AS e FROM null_estimate_in")
      .collect().head
    assert(row.isNullAt(0) && row.isNullAt(1))
  }
}
