package graft.sources

import graft.SparkTestSession
import graft.engine.Engine
import graft.operators.Tables
import graft.streaming.StreamingOps
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Paths}

/** Streaming sources: file-replay equivalence against the batch path (the
  * real file source, not MemoryStream) and the estimator sweep running on a
  * streaming Dataset.
  */
class SourcesSpec extends AnyFunSuite with SparkTestSession {

  test("file-replay of events matches the batch tumbling aggregate") {
    // stage the sf0.001 events as a replay directory (micros-normalized
    // parquet so the stream schema is TIMESTAMP, like a live feed)
    val replayDir = Files.createTempDirectory("events_replay").toString
    val batchEvents = Tables.events(spark, "/root/testdata/sf0.001")
    batchEvents.write.mode("overwrite").parquet(replayDir)

    val batch = StreamingOps.tumble(batchEvents)
      .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2), r.getDouble(3)))
      .toSet

    val stream = Sources.eventsFileStream(spark, replayDir)
    val q = StreamingOps.tumble(stream)
      .writeStream.format("memory").queryName("replay_tumble")
      .outputMode("complete") // complete mode: emit every window incl. open ones
      .start()
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("replay_tumble")
      .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2), r.getDouble(3)))
      .toSet
    assert(streamed == batch)
  }

  test("file-replay of the REAL nanos events table normalizes ts like " +
      "batch Tables.events (no re-staged copy needed)") {
    // the real table is TIMESTAMP(NANOS) -> BIGINT under nanosAsLong; the
    // source peeks the footer and applies the batch DIV-1000 branch. The
    // file stream source wants a DIRECTORY, so stage a raw byte copy (a
    // Spark re-write would normalize the nanos away — the point is the
    // ORIGINAL footer)
    val nanosDir = Files.createTempDirectory("events_nanos").toString
    Files.copy(Paths.get("/root/testdata/sf0.001/events.parquet"),
      Paths.get(nanosDir, "events.parquet"))
    val stream = Sources.eventsFileStream(spark, nanosDir)
    assert(stream.schema("ts").dataType ==
      org.apache.spark.sql.types.TimestampType)
    val q = stream.writeStream.format("memory").queryName("nanos_replay")
      .outputMode("append").start()
    q.processAllAvailable()
    q.stop()
    val got = spark.table("nanos_replay")
      .agg(count(lit(1)), min(col("ts")), max(col("ts"))).collect().head
    val want = Tables.events(spark, "/root/testdata/sf0.001")
      .agg(count(lit(1)), min(col("ts")), max(col("ts"))).collect().head
    assert(got == want, s"streamed $got vs batch $want")
  }

  test("events reader accepts TIMESTAMP-NTZ files (the DuckDB/pandas " +
      "default shape), batch and streaming") {
    val ntzDir = Files.createTempDirectory("events_ntz").toString
    Tables.events(spark, "/root/testdata/sf0.001")
      .withColumn("ts", org.apache.spark.sql.functions.col("ts").cast("timestamp_ntz"))
      .write.mode("overwrite").parquet(s"$ntzDir/events.parquet")
    val batch = Tables.events(spark, ntzDir)
    assert(batch.schema("ts").dataType ==
      org.apache.spark.sql.types.TimestampType)
    // UTC-pinned session: the NTZ cast is value-identity vs the original
    val want = Tables.events(spark, "/root/testdata/sf0.001")
      .agg(count(lit(1)), min(col("ts")), max(col("ts"))).collect().head
    val got = batch.agg(count(lit(1)), min(col("ts")), max(col("ts"))).collect().head
    assert(got == want, s"$got vs $want")
    val stream = Sources.eventsFileStream(spark, s"$ntzDir/events.parquet")
    assert(stream.schema("ts").dataType ==
      org.apache.spark.sql.types.TimestampType)
  }

  test("scenario stream accepts negative input values (floorMod contract)") {
    import spark.implicits._
    val got = Sources.scenarioStream(Seq(-1L, -7L, 0L).toDF("value")).collect()
    assert(got.length == 3)
    assert(got.forall(s => s.messages_per_second >= 1000 &&
      Seq("low", "medium", "high").contains(s.data_skew_risk)))
  }

  test("estimator sweep runs unchanged on a streaming scenario Dataset") {
    import spark.implicits._
    val raw = MemoryStream[Long](spark)
    val outcomes = Engine.sweep(Sources.scenarioStream(raw.toDF()))
    val q = outcomes.toDF()
      .selectExpr("input.project_name AS name", "result IS NOT NULL AS ok", "error")
      .writeStream.format("memory").queryName("scenario_sweep").start()
    raw.addData(0L to 19L)
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("scenario_sweep").collect()
    assert(rows.length == 20)
    // the grid is all-valid by construction: every row sized successfully
    assert(rows.forall(_.getBoolean(1)), rows.mkString("\n"))
    // and streaming results equal the batch sweep of the same scenarios
    val names = rows.map(_.getString(0)).toSet
    val batchNames = Engine.sweep(spark.createDataset(
      Sources.scenarioStream((0L to 19L).toDF("value")).collect().toSeq))
      .collect().map(_.input.project_name).toSet
    assert(names == batchNames)
  }

  test("streaming estimation persists through foreachBatch into the RunStore (E3 loop)") {
    import spark.implicits._
    val store = new graft.engine.RunStore(spark,
      Files.createTempDirectory("stream_runs").toString)
    val raw = MemoryStream[Long](spark)
    val outcomes = Engine.sweep(Sources.scenarioStream(raw.toDF()))
    val q = outcomes.writeStream.foreachBatch {
      (batch: org.apache.spark.sql.Dataset[graft.engine.EstimationOutcome], batchId: Long) =>
        val runs = batch.collect().toSeq.flatMap { o =>
          o.result.map(r => (o.input, r,
            java.time.LocalDateTime.of(2026, 8, 12, 12, 0, batchId.toInt),
            f"b$batchId%02x${o.input.project_name.hashCode & 0xffff}%04x"))
        }
        store.saveAll(runs): Unit
    }.start()
    raw.addData(0L to 4L)
    q.processAllAvailable()
    raw.addData(5L to 7L)
    q.processAllAvailable()
    q.stop()
    // every streamed scenario landed as a reloadable saved run
    val listed = store.list().collect()
    assert(listed.length == 8)
    val reloaded = store.reload(listed.head.getString(0))
    assert(reloaded.isRight, reloaded)
  }

  test("rate-source scenario stream is well-formed (plan-level)") {
    val ds = Sources.scenarioStream(spark.readStream.format("rate")
      .option("rowsPerSecond", "5").load())
    assert(ds.isStreaming)
    assert(ds.schema ==
      org.apache.spark.sql.Encoders.product[graft.core.EstimationInput].schema)
  }

  test("replay dir staging helper wrote real files") {
    // guard against silent empty-dir replay in the first test
    val replayDir = Files.createTempDirectory("events_replay2").toString
    Tables.events(spark, "/root/testdata/sf0.001").write
      .mode("overwrite").parquet(replayDir)
    assert(Files.list(Paths.get(replayDir)).count() > 0)
  }
}
