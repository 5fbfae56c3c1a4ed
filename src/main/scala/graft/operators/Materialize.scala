package graft.operators

import org.apache.spark.sql.DataFrame

/** Shared eager-materialization helper for every operator that pins an
  * intermediate frame (lineage cut + compute-once for multi-consumer plans).
  *
  * Mode is flag-switched per session:
  *  - default: `localCheckpoint()` — executor block store. Correct and fast
  *    single-JVM (local[32], tests, bench), but on a real cluster the blocks
  *    die with their executor and any job that still needs them fails.
  *  - `spark.graft.checkpointDir` set: RELIABLE `checkpoint()` into that
  *    directory (HDFS/S3 on a cluster). Survives executor loss; recovery
  *    cost is bounded by one materialization instead of the whole lineage.
  *
  * One helper, used by every site — the minhash signature table, the rarity
  * tf collapse, the IVF quantized-embedding frame, and each
  * connected-components round — so "restartable at 100 TB" is a session conf,
  * not a per-operator rewrite (VERDICT r5 next-round #1).
  *
  * LIFECYCLE (ADVICE r6): Spark does NOT delete reliable checkpoints by
  * default, and every materialize site writes a fresh directory — a
  * long-lived session with the conf set accumulates them unboundedly. Two
  * sanctioned regimes: (a) per-job dir that the orchestrator deletes after
  * the job (the usual production shape — checkpoints are only useful while
  * the lineage they cut is live); (b) set
  * `spark.cleaner.referenceTracking.cleanCheckpoints=true` at session build
  * so the ContextCleaner GCs a checkpoint when its RDD is collected. The
  * helper deliberately does neither itself: deleting data out from under a
  * running plan is the one failure mode worse than disk growth.
  */
object Materialize {
  private[graft] val ConfKey = "spark.graft.checkpointDir"

  /** Directory for reliable mode, if configured. */
  private def reliableDir(df: DataFrame): Option[String] =
    df.sparkSession.conf.getOption(ConfKey)

  /** Eagerly materialize `df`, truncating lineage. Reliable when a
    * checkpoint dir is configured, executor-local otherwise. */
  def materialize(df: DataFrame): DataFrame =
    reliableDir(df) match {
      case Some(dir) =>
        val sc = df.sparkSession.sparkContext
        // set-once: repeated setCheckpointDir calls each mkdir a fresh
        // random subdir even when nothing checkpoints there (ADVICE r6).
        // The "already set to this dir" check compares the PARENT of the
        // current checkpoint dir (setCheckpointDir appends a random UUID
        // segment) as fully-QUALIFIED paths — a substring test treated a
        // conf dir that merely prefixes the old one (/tmp/ck vs /tmp/ck2)
        // as already set, and a scheme-stripped compare would conflate
        // same-path dirs on different filesystems (hdfs://nn/tmp/ck vs
        // file:/tmp/ck) and never re-point; qualification also resolves a
        // relative conf value so it doesn't regress to set-per-call.
        def qualified(p: String): org.apache.hadoop.fs.Path = {
          val path = new org.apache.hadoop.fs.Path(p)
          path.getFileSystem(sc.hadoopConfiguration).makeQualified(path)
        }
        val wanted = qualified(dir)
        val current = sc.getCheckpointDir
          .map(d => qualified(d).getParent)
        if (!current.contains(wanted)) sc.setCheckpointDir(dir)
        df.checkpoint()
      case None =>
        df.localCheckpoint()
    }
}
