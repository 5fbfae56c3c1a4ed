package graft.sources

import org.apache.spark.sql.{DataFrame, Dataset, Row}
import org.apache.spark.sql.functions.{col, pmod, xxhash64}
import org.apache.spark.sql.streaming.StreamingQuery

/** Partitioned-parquet sink utilities: the write-side discipline that makes
  * 100 TB readable. Two failure modes this prevents:
  *
  *  1. Small-files explosion: `partitionBy` alone makes EVERY task open a
  *     writer for EVERY partition value it sees — tasks x values files.
  *     Repartitioning by the partition columns first routes each value to
  *     one task (plus `filesPerPartition` salt buckets when one value is
  *     huge), so file count is O(values x filesPerPartition).
  *  2. Unbounded file sizes: `maxRecordsPerFile` caps the rows per file, so
  *     a skewed partition value rolls into N bounded files instead of one
  *     multi-GB file that a downstream scan cannot split (parquet splits at
  *     row-group boundaries; a single huge row group is one task forever —
  *     the testdata's own single-row-group layout demonstrates the cost).
  *
  * Readback earns partition pruning: a filter on the partition column
  * becomes a directory-listing PartitionFilter (zero data read for pruned
  * values) — asserted at the plan level in SinksSpec.
  */
object Sinks {

  /** THE streaming sink: every streaming leg lands through here. The
    * stream runs as append-mode micro-batches with checkpointed offsets,
    * and `land` receives each batch with its id. foreachBatch is
    * at-least-once (the sink write can succeed and the checkpoint commit
    * still fail, or a restart re-runs the last uncommitted batch), so
    * exactly-once-observable output is `land`'s half of the contract:
    * re-running a batch id must reproduce and REPLACE that batch's output,
    * which the batch-id-keyed dynamic overwrites below
    * ([[writeBatchIdempotent]], [[writeShardedBatchIdempotent]]) give. */
  def exactlyOnce(stream: DataFrame, checkpointDir: String)(
      land: (DataFrame, Long) => Unit): StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .outputMode("append")
      .foreachBatch((batch: Dataset[Row], batchId: Long) => land(batch, batchId))
      .start()

  /** One micro-batch landing in its own `batch_id=<id>` partition via
    * DYNAMIC partition overwrite, so a replayed batch REPLACES its own
    * partition instead of appending duplicates; the batch_id column
    * doubles as an audit trail of which micro-batch delivered which rows. */
  def writeBatchIdempotent(batch: DataFrame, batchId: Long, path: String): Unit =
    batch.withColumn("batch_id", org.apache.spark.sql.functions.lit(batchId))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("batch_id")
      .parquet(path)

  /** One micro-batch as `shard=<k>/batch_id=<id>/part-*.parquet` training
    * shards — the streaming leg of the q73 shard discipline: hash-shard
    * assignment (the SAME expression as the q73 manifest and the batch
    * writer — graft.operators.AnalyticsQueries.shardCol) plus batch-id
    * keyed dynamic overwrite, so the layout is both balanced for
    * downstream readers and replay-idempotent: a re-delivered batch
    * replaces exactly its own (shard, batch_id) partitions. Requires a
    * `doc_id` column for the assignment. */
  def writeShardedBatchIdempotent(batch: DataFrame, batchId: Long, path: String): Unit =
    batch
      .withColumn("shard", graft.operators.AnalyticsQueries.shardCol)
      .withColumn("batch_id", org.apache.spark.sql.functions.lit(batchId))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("shard", "batch_id")
      .parquet(path)

  /** Compact a parquet directory's small files into ~`targetRecordsPerFile`
    * files — the maintenance half of the small-files discipline: streaming
    * sinks (one file per micro-batch) and fine-grained partitioned writes
    * accumulate files that tax listing, footers, and scan task counts.
    *
    * A Hive-partitioned layout (`batch_id=K/`, `shard=N/batch_id=K/`) is
    * rewritten WITH its partition structure: the streaming sinks' replay
    * idempotence depends on a re-delivered batch's dynamic partition
    * overwrite replacing its own `batch_id=K` files — flattening during
    * compaction would leave batch K's rows in unpartitioned files the
    * replay cannot replace (duplicates), and would forfeit partition
    * pruning. Partition columns are recovered from the file paths, so no
    * caller needs to restate them.
    *
    * Swap = rewrite into a sibling temp dir, then two renames. Readers
    * racing the swap can observe a brief path-missing window (a
    * table-format commit this is not — that is what the generation
    * rollover in DedupQueries.compactGeneration provides for the index
    * dirs); a crash between the renames strands the data under `__old`,
    * which the NEXT compact call auto-restores before doing anything
    * else. Returns (filesBefore, filesAfter). */
  def compact(spark: org.apache.spark.sql.SparkSession, path: String,
      targetRecordsPerFile: Long = 5000000L): (Int, Int) = {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    val p = Paths.get(path)
    val old = Paths.get(path.stripSuffix("/") + "__old")
    val tmp = path.stripSuffix("/") + "__compacting"
    // crash recovery: died between the two swap renames -> live dir gone,
    // data stranded under __old; restore it. Completed swap that died
    // before cleanup -> stale __old/__compacting; drop them.
    if (!Files.exists(p) && Files.exists(old))
      Files.move(old, p, StandardCopyOption.ATOMIC_MOVE)
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(tmp))
    org.apache.commons.io.FileUtils.deleteDirectory(old.toFile)
    def countFiles(dir: String): Int = {
      val s = Files.walk(Paths.get(dir))
      try s.filter(f => f.toString.endsWith(".parquet")).count().toInt
      finally s.close()
    }
    val before = countFiles(path)
    val partCols = partitionColumnsOf(p)
    val df = spark.read.parquet(path)
    val rows = df.count()
    val nFiles = math.max(1, math.ceil(rows.toDouble / targetRecordsPerFile).toInt)
    val writer =
      (if (partCols.isEmpty) df.repartition(nFiles)
       // one task per partition value (the writePartitioned discipline);
       // maxRecordsPerFile still rolls an oversized value into bounded files
       else df.repartition(partCols.map(col): _*))
        .write.mode("overwrite")
        .option("maxRecordsPerFile", targetRecordsPerFile)
    (if (partCols.isEmpty) writer else writer.partitionBy(partCols: _*))
      .parquet(tmp)
    Files.move(p, old, StandardCopyOption.ATOMIC_MOVE)
    Files.move(Paths.get(tmp), p, StandardCopyOption.ATOMIC_MOVE)
    org.apache.commons.io.FileUtils.deleteDirectory(old.toFile)
    (before, countFiles(path))
  }

  /** Partition columns of a Hive-layout parquet dir, in nesting order,
    * read off the first data file's `name=value` path segments (empty for
    * a flat layout). */
  private def partitionColumnsOf(root: java.nio.file.Path): Seq[String] = {
    import scala.jdk.CollectionConverters._
    val s = java.nio.file.Files.walk(root)
    try {
      s.iterator().asScala
        .find(f => f.toString.endsWith(".parquet"))
        .map { f =>
          root.relativize(f).iterator().asScala.toSeq.dropRight(1)
            .map(_.toString)
            .filter(seg => seg.contains("=") && !seg.startsWith("."))
            .map(_.takeWhile(_ != '='))
        }
        .getOrElse(Seq.empty)
    } finally s.close()
  }

  /** Write `df` as partitioned parquet with bounded file count and size.
    *
    * @param filesPerPartition salt width: tasks writing each partition
    *        value (raise for skewed/huge values so the write parallelizes)
    * @param maxRecordsPerFile row cap per output file */
  def writePartitioned(
      df: DataFrame,
      path: String,
      partitionCols: Seq[String],
      filesPerPartition: Int = 1,
      maxRecordsPerFile: Long = 5000000L): Unit = {
    val pcols = partitionCols.map(col)
    // deterministic salt: same row -> same bucket (idempotent retries)
    val salted = df.withColumn("__salt",
      pmod(xxhash64(df.columns.map(col).toIndexedSeq: _*), org.apache.spark.sql.functions.lit(filesPerPartition.toLong)))
    salted
      .repartition((pcols :+ col("__salt")): _*)
      .drop("__salt")
      .write
      .partitionBy(partitionCols: _*)
      .option("maxRecordsPerFile", maxRecordsPerFile)
      .mode("overwrite")
      .parquet(path)
  }
}
