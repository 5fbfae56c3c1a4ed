package graft.tools

import graft.{Env, Sessions, SparkEntry}
import org.apache.spark.sql.DataFrame

/** The catalog's plan-printing main: run the named catalog queries (all
  * when none is named), then print the FINAL adaptive physical plan
  * (isFinalPlan=true) — the one place AQE's runtime decisions
  * (ReusedQueryStage / AQEShuffleRead / runtime join rewrites) are
  * visible, which a pre-execution `explain` cannot show (guide §7.2's
  * "the SQL tab shows the final re-optimised plan", reproduced
  * headlessly). Scan pruning, pushed filters, join strategies and window
  * limits read off the same plan.
  *
  * Entries that are eager at DataFrame construction (driver loops and
  * training collects; each scaladoc says so) run Spark jobs inside
  * `fn(...)`, so the printed plan covers only the final assembled frame;
  * their distributed halves are pinned by their specs.
  *
  * Exits 2 on an unknown query name, 1 if any query fails or leaves a
  * non-final adaptive plan.
  *
  * Usage: runMain graft.tools.ExecutedPlanDump [sfDir] [queryName...]
  */
object ExecutedPlanDump {

  /** Execute `df` through its OWN QueryExecution and return the executed
    * plan's text. A sink write (noop, parquet) would plan and run a new
    * QueryExecution around the frame, leaving `df.queryExecution`'s
    * adaptive plan unexecuted (isFinalPlan=false); `collect` runs the
    * frame's own. Throws unless every adaptive node in the plan is final;
    * a plan with no adaptive node was never re-planned, so it is final as
    * planned. */
  def executedPlan(df: DataFrame): String = {
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    if (plan.contains("isFinalPlan=false"))
      throw new IllegalStateException(s"executed plan is not final:\n$plan")
    plan
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val names =
      if (args.length > 1) Env.catalogNames("ExecutedPlanDump", args.drop(1).toSeq)
      else Set.empty[String]
    val cpus = Env.cpus
    val spark = Sessions.build(s"local[$cpus]", cpus, "graft-executed-plan")
    val failed = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => names.isEmpty || names.contains(n) }
      .flatMap { case (name, fn) =>
        println(s"\n===== $name (executed) =====")
        try { println(executedPlan(fn(spark, sfDir))); None }
        catch { case e: Throwable => println(s"run failed: $e"); Some(name) }
      }
    spark.stop()
    if (failed.nonEmpty) {
      System.err.println(s"[executed-plan] ${failed.size} failed: ${failed.mkString(", ")}")
      sys.exit(1)
    }
  }
}
