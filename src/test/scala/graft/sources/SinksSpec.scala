package graft.sources

import graft.SparkTestSession
import graft.operators.Tables
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Partitioned-write discipline: layout, file bounds, round-trip, and the
  * plan-level proof that readback filters become partition pruning. */
class SinksSpec extends AnyFunSuite with SparkTestSession with AdaptiveSparkPlanHelper {
  private val dir = "/root/testdata/sf0.001"
  private val out = Files.createTempDirectory("graft_sinks").toString

  private lazy val written: Unit = Sinks.writePartitioned(
    Tables.events(spark, dir), out, Seq("event_type"),
    filesPerPartition = 2, maxRecordsPerFile = 100)

  test("layout: one directory per partition value, bounded files inside") {
    written
    val dirs = Files.list(Paths.get(out)).iterator().asScala
      .filter(p => Files.isDirectory(p)).map(_.getFileName.toString).toSet
    assert(dirs == Set("click", "error", "purchase", "signup", "view")
      .map(v => s"event_type=$v"))
    dirs.foreach { d =>
      val files = Files.list(Paths.get(out, d)).iterator().asScala
        .count(_.getFileName.toString.endsWith(".parquet"))
      // ~200 rows per type at sf0.001, cap 100/file, 2 salt buckets => 2..4
      assert(files >= 2 && files <= 6, s"$d has $files files")
    }
  }

  test("round-trip: partitioned copy equals the source") {
    written
    val src = Tables.events(spark, dir)
    val back = spark.read.parquet(out)
    assert(back.count() == src.count())
    val a = src.groupBy(col("event_type")).agg(sum(col("value")).as("s"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val b = back.groupBy(col("event_type")).agg(sum(col("value")).as("s"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(a.keySet == b.keySet)
    a.foreach { case (k, v) => assert(math.abs(v - b(k)) < 1e-6) }
  }

  test("readback filter on the partition column prunes at the plan level") {
    written
    val q = spark.read.parquet(out).filter(col("event_type") === "click")
    val n = q.count()
    assert(n > 0)
    val scans = collectWithSubqueries(q.queryExecution.executedPlan) {
      case s: FileSourceScanExec => s
    }
    assert(scans.nonEmpty)
    val scan = scans.head
    // the predicate must be a partition filter (directory pruning), not a
    // data filter evaluated per row
    assert(scan.partitionFilters.exists(_.toString.contains("event_type")),
      s"partitionFilters=${scan.partitionFilters}")
    // and the scan reads ONLY the matching directory's files
    val selected = scan.relation.location.listFiles(scan.partitionFilters, Nil)
      .flatMap(_.files).map(_.getPath.toString)
    assert(selected.nonEmpty && selected.forall(_.contains("event_type=click")),
      selected.mkString(", "))
  }

  test("compact collapses small files and preserves the data") {
    import spark.implicits._
    val p = Files.createTempDirectory("graft_compact").toString + "/t"
    (1L to 1000L).toDF("value").repartition(40).write.parquet(p)
    val before = spark.read.parquet(p)
      .select("value").as[Long].collect().sorted.toSeq
    val (nBefore, nAfter) = Sinks.compact(spark, p, targetRecordsPerFile = 600)
    assert(nBefore >= 40, s"expected many small files, got $nBefore")
    assert(nAfter == 2, s"1000 rows at 600/file must compact to 2, got $nAfter")
    val after = spark.read.parquet(p)
      .select("value").as[Long].collect().sorted.toSeq
    assert(after == before)
  }

  test("foreachBatch sink delivers exactly once across replays and restarts") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val sink = Files.createTempDirectory("graft_eo_sink").toString
    val ckpt = Files.createTempDirectory("graft_eo_ckpt").toString
    def readBack(): Seq[Long] =
      spark.read.parquet(sink).select("value").as[Long].collect().toSeq.sorted

    val s1 = MemoryStream[Long](spark)
    val q1 = Sinks.exactlyOnce(s1.toDF(), ckpt)(Sinks.writeBatchIdempotent(_, _, sink))
    s1.addData(1L, 2L, 3L)
    q1.processAllAvailable()
    assert(readBack() == Seq(1L, 2L, 3L))

    // simulate foreachBatch's at-least-once retry: the sink write succeeded
    // but the checkpoint commit was lost, so batch 0 is delivered AGAIN
    Sinks.writeBatchIdempotent(Seq(1L, 2L, 3L).toDF("value"), 0L, sink)
    assert(readBack() == Seq(1L, 2L, 3L), "replayed batch must not duplicate")
    q1.stop()

    // restart from the same checkpoint: new data lands in new batches,
    // prior output intact — each input row appears exactly once overall
    val s2 = MemoryStream[Long](spark)
    s2.addData(1L, 2L, 3L) // offsets 0-2 already committed for the OLD source
    val q2 = Sinks.exactlyOnce(s2.toDF(), ckpt)(Sinks.writeBatchIdempotent(_, _, sink))
    s2.addData(4L, 5L)
    q2.processAllAvailable()
    q2.stop()
    assert(readBack() == Seq(1L, 2L, 3L, 4L, 5L))
  }

  test("sharded streaming writer lands shard=K/batch_id=N partitions, " +
      "replay-idempotent, assignment matching the q73 manifest rule") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val sink = Files.createTempDirectory("graft_shard_sink").toString
    val ckpt = Files.createTempDirectory("graft_shard_ckpt").toString
    val docs = (0L until 40L).map(id => (id, s"text $id"))
    def readBack(): Seq[(Long, Long)] =
      spark.read.parquet(sink)
        .select($"doc_id", $"shard".cast("long"))
        .as[(Long, Long)].collect().toSeq.sortBy(_._1)

    val s = MemoryStream[(Long, String)](spark)
    val q = Sinks.exactlyOnce(s.toDF().toDF("doc_id", "text"), ckpt)(
      Sinks.writeShardedBatchIdempotent(_, _, sink))
    s.addData(docs.take(25))
    q.processAllAvailable()
    s.addData(docs.drop(25))
    q.processAllAvailable()
    q.stop()
    // every doc exactly once, shard = first md5 hex digit of doc_id
    val md = java.security.MessageDigest.getInstance("MD5")
    def shard(id: Long): Long =
      Character.digit(md.digest(id.toString.getBytes("UTF-8"))
        .take(1).map("%02x".format(_)).mkString.charAt(0), 16).toLong
    assert(readBack() == docs.map { case (id, _) => (id, shard(id)) }.sortBy(_._1))
    // physical layout: shard=K dirs containing batch_id=N dirs
    val shardDirs = new java.io.File(sink).listFiles()
      .filter(_.getName.startsWith("shard=")).toSeq
    assert(shardDirs.nonEmpty)
    assert(shardDirs.forall(
      _.listFiles().exists(_.getName.startsWith("batch_id="))))
    // at-least-once replay of batch 0 must replace, not duplicate
    Sinks.writeShardedBatchIdempotent(
      docs.take(25).toDF("doc_id", "text"), 0L, sink)
    assert(readBack().size == docs.size, "replayed batch must not duplicate")
  }

  test("compact preserves a partitioned layout: replay overwrite still " +
      "replaces its own batch after compaction") {
    import spark.implicits._
    val p = Files.createTempDirectory("graft_compact_part").toString + "/t"
    Sinks.writeBatchIdempotent(Seq(1L, 2L).toDF("value"), 0L, p)
    Sinks.writeBatchIdempotent(Seq(3L, 4L).toDF("value"), 1L, p)
    Sinks.compact(spark, p, targetRecordsPerFile = 100)
    val dirs = Files.list(Paths.get(p)).iterator().asScala
      .filter(d => Files.isDirectory(d)).map(_.getFileName.toString).toSet
    assert(dirs == Set("batch_id=0", "batch_id=1"),
      s"compaction must keep the Hive layout, got $dirs")
    // the exactly-once contract survives: a replayed batch REPLACES its
    // partition (a flattening compactor would leave the old rows behind)
    Sinks.writeBatchIdempotent(Seq(1L, 2L).toDF("value"), 0L, p)
    val vals = spark.read.parquet(p).select("value").as[Long]
      .collect().toSeq.sorted
    assert(vals == Seq(1L, 2L, 3L, 4L), s"replay after compact: $vals")
  }

  test("compact auto-recovers a swap stranded by a crash between renames") {
    import spark.implicits._
    val p = Files.createTempDirectory("graft_compact_crash").toString + "/t"
    (1L to 10L).toDF("value").repartition(4).write.parquet(p)
    // the crash window: live dir renamed away, compacted dir never landed
    Files.move(Paths.get(p), Paths.get(p + "__old"))
    val (_, after) = Sinks.compact(spark, p, targetRecordsPerFile = 100)
    assert(after == 1, s"recovered dir must compact to one file, got $after")
    val vals = spark.read.parquet(p).select("value").as[Long]
      .collect().toSeq.sorted
    assert(vals == (1L to 10L).toSeq)
  }
}
