package graft

import org.apache.spark.sql.SparkSession

/** One place for engine SparkSession tuning so Verify, Bench, tests, and API
  * entry points run with identical semantics.
  *
  * Scale rationale (local[32] here, 1000 executors in production):
  *  - shuffle.partitions sized to the runner's parallelism, not Spark's 200
  *    default; AQE coalesces further at runtime.
  *  - AQE on: runtime re-plan handles skewed joins and right-sizes reducers —
  *    the knob that matters most when SF grows 100x.
  *  - autoBroadcastJoinThreshold left at default (10 MB): dimension tables
  *    (region/nation/supplier/part at small SF) broadcast automatically; the
  *    catalog additionally hints `broadcast()` where a side is known-small by
  *    schema, which stays correct at any SF for region/nation (fixed 5/25 rows).
  *  - UTC session timezone: oracle (DuckDB) parity for timestamp math.
  *  - legacy.parquet.nanosAsLong: the events table ships TIMESTAMP(NANOS);
  *    Tables.events() rebuilds a TimestampType column from the raw longs.
  *  - codegen.cache.maxEntries = 4096: Spark keeps compiled generated
  *    classes in one JVM-wide LRU cache, default 100 entries. One sf0.1
  *    pass over the full catalog compiles about 1,720 distinct classes
  *    (16-27 ms of Janino each on the driver), and the three driver-loop
  *    entries q95/q101/q120 alone 107. At 100 entries a warm session
  *    therefore recompiles most of them on every pass and hands the JIT
  *    fresh bytecode each time; 4096 holds the whole catalog's working
  *    set with about 2x headroom. The cost is retained driver memory for
  *    the cached classes (README, session tuning). This is a STATIC conf:
  *    the cache is sized once per JVM, from the active session's conf, at
  *    the first codegen. Codegen that runs before the first session is
  *    built (an encoder's projection, say) fixes the cache at the default
  *    100, so every JVM must build its session through here before any
  *    Dataset work.
  */
object Sessions {
  def build(master: String, shufflePartitions: Int, appName: String = "graft"): SparkSession = {
    // Multi-executor dry-run seam (DEPLOY.md): SPARK_GRAFT_MASTER overrides
    // the caller's local[N] (e.g. local-cluster[2,16,8192] — separate
    // executor JVMs, real serialization/broadcast paths, the closest a
    // single host gets to cluster semantics); SPARK_GRAFT_EXECUTOR_CP
    // points those executor JVMs at the application jar, which local mode
    // never needs.
    val effectiveMaster = sys.env.getOrElse("SPARK_GRAFT_MASTER", master)
    // loud provenance: a leftover export must not let bench numbers
    // from a different execution mode land in artifacts unannounced
    if (effectiveMaster != master)
      System.err.println(
        s"[graft] SPARK_GRAFT_MASTER override active: $effectiveMaster (caller asked for $master)")
    var builder = SparkSession.builder()
      .master(effectiveMaster)
      .appName(appName)
      // native expressions + optimizer rules (SparkSessionExtensions is the
      // public seam for both — SURVEY §4 custom-operator ladder)
      .withExtensions { e =>
        e.injectFunction(graft.functions.DotProductLong.registration)
        graft.plans.RewriteDotProduct.inject(e)
        graft.plans.AsOfJoinStrategy.inject(e)
      }
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      // AQE on: measured a net win even at bench scale (30.9 s vs 35.6 s
      // for the full catalog at sf0.1 — runtime broadcast conversion pays
      // for the stage materialization), and it's the knob that matters most
      // when SF grows 100x (skew-join splitting, reducer right-sizing)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      // size-based coalescing: the default parallelismFirst=true refuses to
      // coalesce below the default parallelism, so a 2 MB shuffle still
      // schedules 32 reducers; advisory-size-first collapses small shuffles
      // to few tasks and is the recommended setting at scale too
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.codegen.cache.maxEntries", "4096")
      .config("spark.ui.enabled", "false")
    sys.env.get("SPARK_GRAFT_EXECUTOR_CP").foreach { cp =>
      builder = builder.config("spark.executor.extraClassPath", cp)
    }
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
