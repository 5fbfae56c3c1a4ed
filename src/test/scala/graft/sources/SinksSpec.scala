package graft.sources

import graft.SparkTestSession
import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite

/** The exactly-once streaming sink and its batch-id keyed writers: replay
  * and restart deliver each row once, and the sharded writer's layout
  * follows the q73 manifest rule. */
class SinksSpec extends AnyFunSuite with SparkTestSession {

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
}
