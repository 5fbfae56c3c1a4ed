package graft.streaming

import graft.SparkTestSession
import graft.streaming.StreamingOps.Ev
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.{coalesce, col, lit}
import org.apache.spark.sql.streaming.StreamingQuery
import org.scalatest.funsuite.AnyFunSuite
import java.sql.Timestamp

/** MemoryStream event-time tests for the streaming module (SURVEY.md §5.4):
  * window semantics, watermark late-data handling, dedup-within-watermark,
  * stream-stream left join nulls-after-watermark, and custom sessionization
  * — plus batch-vs-streaming-replay equivalence on the tumbling aggregate
  * (the q19 shape).
  */
class StreamingSpec extends AnyFunSuite with SparkTestSession {

  private var qn = 0
  private def nextName(): String = { qn += 1; s"stream_sink_$qn" }

  private def ts(s: String): Timestamp = Timestamp.valueOf(s)

  private def ev(id: Long, t: String, user: Long = 1L,
      tpe: String = "view", value: Double = 1.0): Ev =
    Ev(id, ts(t), user, tpe, value)

  /** Run a streaming frame into a memory sink, process everything, return
    * the collected sink table. */
  private def runToMemory(df: DataFrame, mode: String = "append"): (StreamingQuery, String) = {
    val name = nextName()
    val q = df.writeStream.format("memory").queryName(name).outputMode(mode).start()
    (q, name)
  }

  test("tumble: batch and streaming replay agree on closed windows (q19 equivalence)") {
    import spark.implicits._
    val events = Seq(
      ev(1, "2026-01-01 10:05:00", tpe = "view", value = 2.0),
      ev(2, "2026-01-01 10:55:00", tpe = "view", value = 3.0),
      ev(3, "2026-01-01 10:30:00", tpe = "click", value = 1.5),
      ev(4, "2026-01-01 11:10:00", tpe = "view", value = 4.0),
      ev(5, "2026-01-01 12:20:00", tpe = "click", value = 0.5))
    val sentinel = ev(99, "2026-01-02 00:00:00", tpe = "sentinel")

    // batch evaluation of the same transform
    val batch = StreamingOps.tumble(events.toDF())
      .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2), r.getDouble(3)))
      .toSet

    val stream = MemoryStream[Ev](spark)
    val (q, name) = runToMemory(StreamingOps.tumble(stream.toDF()))
    stream.addData(events)
    q.processAllAvailable()
    stream.addData(Seq(sentinel)) // advances watermark past every real window
    q.processAllAvailable()
    q.stop()

    val streamed = spark.table(name)
      .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2), r.getDouble(3)))
      .filter(_._2 != "sentinel").toSet
    assert(streamed == batch)
  }

  test("tumble: late event beyond the watermark is dropped") {
    import spark.implicits._
    val stream = MemoryStream[Ev](spark)
    val (q, name) = runToMemory(StreamingOps.tumble(stream.toDF(), watermark = Some("10 minutes")))
    stream.addData(Seq(ev(1, "2026-01-01 10:05:00", value = 1.0)))
    q.processAllAvailable()
    // watermark moves to 11:50; the 10:00-11:00 window closes and emits
    stream.addData(Seq(ev(2, "2026-01-01 12:00:00", value = 1.0)))
    q.processAllAvailable()
    // this event is 90 minutes late — inside an already-closed window
    stream.addData(Seq(ev(3, "2026-01-01 10:10:00", value = 100.0)))
    q.processAllAvailable()
    stream.addData(Seq(ev(4, "2026-01-02 00:00:00", value = 1.0)))
    q.processAllAvailable()
    q.stop()
    val tenOclock = spark.table(name).collect()
      .filter(_.getTimestamp(0) == ts("2026-01-01 10:00:00"))
    assert(tenOclock.length == 1)
    assert(tenOclock.head.getLong(2) == 1, "late event must not be counted")
  }

  test("hop: one event lands in width/slide windows") {
    import spark.implicits._
    val stream = MemoryStream[Ev](spark)
    val (q, name) = runToMemory(StreamingOps.hop(stream.toDF()))
    stream.addData(Seq(ev(1, "2026-01-01 10:07:00")))
    stream.addData(Seq(ev(2, "2026-01-01 11:00:00"))) // advance watermark
    q.processAllAvailable()
    q.stop()
    val windows = spark.table(name).collect()
      .filter(r => r.getLong(3) > 0 && r.getTimestamp(0).before(ts("2026-01-01 10:30:00")))
      .map(r => (r.getTimestamp(0), r.getTimestamp(1)))
    // 10:07 with width 10m / slide 5m belongs to [10:00,10:10) and [10:05,10:15)
    assert(windows.toSet == Set(
      (ts("2026-01-01 10:00:00"), ts("2026-01-01 10:10:00")),
      (ts("2026-01-01 10:05:00"), ts("2026-01-01 10:15:00"))))
  }

  test("session window: gap splits, adjacency merges") {
    import spark.implicits._
    val stream = MemoryStream[Ev](spark)
    val (q, name) = runToMemory(StreamingOps.session(stream.toDF(), gap = "5 minutes"))
    stream.addData(Seq(
      ev(1, "2026-01-01 10:00:00"), ev(2, "2026-01-01 10:03:00"),
      ev(3, "2026-01-01 10:06:00"), // merges: within 5m of 10:03
      ev(4, "2026-01-01 10:30:00"))) // new session
    stream.addData(Seq(ev(9, "2026-01-01 12:00:00"))) // close everything
    q.processAllAvailable()
    q.stop()
    val sessions = spark.table(name).collect()
      .filter(_.getTimestamp(0).before(ts("2026-01-01 11:00:00")))
      .map(r => (r.getTimestamp(0), r.getTimestamp(1), r.getLong(3)))
    assert(sessions.toSet == Set(
      (ts("2026-01-01 10:00:00"), ts("2026-01-01 10:11:00"), 3L),
      (ts("2026-01-01 10:30:00"), ts("2026-01-01 10:35:00"), 1L)))
  }

  test("session windows merge across micro-batches") {
    import spark.implicits._
    val stream = MemoryStream[Ev](spark)
    val (q, name) = runToMemory(StreamingOps.session(stream.toDF(), gap = "5 minutes"))
    // batch 1: one session at 10:00
    stream.addData(Seq(ev(1, "2026-01-01 10:00:00")))
    q.processAllAvailable()
    // batch 2: within the gap of the open session — must MERGE, not split
    stream.addData(Seq(ev(2, "2026-01-01 10:04:00")))
    q.processAllAvailable()
    stream.addData(Seq(ev(9, "2026-01-01 12:00:00"))) // close everything
    q.processAllAvailable()
    q.stop()
    val sessions = spark.table(name).collect()
      .filter(_.getTimestamp(0).before(ts("2026-01-01 11:00:00")))
      .map(r => (r.getTimestamp(0), r.getTimestamp(1), r.getLong(3)))
    assert(sessions.toSet == Set(
      (ts("2026-01-01 10:00:00"), ts("2026-01-01 10:09:00"), 2L)),
      s"cross-batch events within the gap must merge into one session: ${sessions.toSeq}")
  }

  test("dropDuplicatesWithinWatermark keeps one row per event_id") {
    import spark.implicits._
    val stream = MemoryStream[Ev](spark)
    val (q, name) = runToMemory(stream.toDF()
      .withWatermark("ts", "10 minutes").dropDuplicatesWithinWatermark("event_id"))
    stream.addData(Seq(
      ev(1, "2026-01-01 10:00:00", value = 1.0),
      ev(1, "2026-01-01 10:00:30", value = 1.0), // same id, within watermark
      ev(2, "2026-01-01 10:01:00", value = 2.0)))
    q.processAllAvailable()
    stream.addData(Seq(ev(1, "2026-01-01 10:02:00", value = 1.0))) // still duplicate
    q.processAllAvailable()
    q.stop()
    val ids = spark.table(name).collect().map(_.getLong(0)).sorted
    assert(ids.toSeq == Seq(1L, 2L))
  }

  test("stream-stream left join: match joins, no-match emits nulls after watermark") {
    import spark.implicits._
    val views = MemoryStream[Ev](spark)
    val purchases = MemoryStream[Ev](spark)
    val joined = StreamingOps.viewPurchaseLeftJoin(views.toDF(), purchases.toDF())
    val (q, name) = runToMemory(joined)
    views.addData(Seq(
      ev(10, "2026-01-01 10:00:00", user = 1),
      ev(11, "2026-01-01 10:00:00", user = 2)))
    purchases.addData(Seq(
      ev(20, "2026-01-01 10:05:00", user = 1, tpe = "purchase", value = 9.99)))
    q.processAllAvailable()
    // advance both watermarks far enough to prove view 11 is unmatched
    views.addData(Seq(ev(12, "2026-01-01 11:00:00", user = 3)))
    purchases.addData(Seq(ev(21, "2026-01-01 11:00:00", user = 3, tpe = "purchase")))
    q.processAllAvailable()
    q.stop()
    val rows = spark.table(name).collect()
      .map(r => (r.getLong(0), if (r.isNullAt(3)) -1L else r.getLong(3)))
      .toSet
    assert(rows.contains((10L, 20L)), s"matched view must join: $rows")
    assert(rows.contains((11L, -1L)), s"unmatched view must emit nulls after watermark: $rows")
  }

  test("stream-stream left join: streaming replay agrees with the batch twin (q64 equivalence)") {
    import spark.implicits._
    val viewEvents = Seq(
      ev(10, "2026-01-01 10:00:00", user = 1),
      ev(11, "2026-01-01 10:00:00", user = 2),            // never purchases
      ev(12, "2026-01-01 10:20:00", user = 1),            // second view, band excludes 10:05
      ev(13, "2026-01-01 10:21:00", user = 3))
    val purchaseEvents = Seq(
      ev(20, "2026-01-01 10:05:00", user = 1, tpe = "purchase", value = 9.99),
      ev(21, "2026-01-01 10:25:00", user = 1, tpe = "purchase", value = 1.0), // in band of view 12 only (view 10's band ends 10:10)
      ev(22, "2026-01-01 10:15:00", user = 3, tpe = "purchase"))              // before view 13: out of band
    def key(r: org.apache.spark.sql.Row): (Long, Long) =
      (r.getLong(0), if (r.isNullAt(3)) -1L else r.getLong(3))

    // batch evaluation through the SAME transform (what q64 runs)
    val batch = StreamingOps.viewPurchaseLeftJoin(
        viewEvents.toDF(), purchaseEvents.toDF())
      .collect().map(key).toSet

    val views = MemoryStream[Ev](spark)
    val purchases = MemoryStream[Ev](spark)
    val (q, name) = runToMemory(
      StreamingOps.viewPurchaseLeftJoin(views.toDF(), purchases.toDF()))
    views.addData(viewEvents)
    purchases.addData(purchaseEvents)
    q.processAllAvailable()
    // close every pending left row: watermark must pass last view + band
    views.addData(Seq(ev(98, "2026-01-01 12:00:00", user = 99)))
    purchases.addData(Seq(ev(99, "2026-01-01 12:00:00", user = 99, tpe = "purchase")))
    q.processAllAvailable()
    q.stop()

    val streamed = spark.table(name).collect().map(key)
      .filter(k => k._1 < 90 && (k._2 < 90 || k._2 == -1L)).toSet
    val batchReal = batch.filter(k => k._1 < 90)
    assert(streamed == batchReal,
      s"replay mismatch: streamed=$streamed batch=$batchReal")
    // and the expected pair set is exactly the band semantics
    assert(batchReal == Set((10L, 20L), (11L, -1L), (12L, 21L), (13L, -1L)))
  }

  test("ingest PII scrub: streaming replay equals the batch scrub, nulls pass through") {
    import spark.implicits._
    val docs = Seq(
      StreamingSpec.Doc(1L, "mail me at alice@corp.io or call +1-555-0199 now"),
      StreamingSpec.Doc(2L, "server 192.168.0.17 and ssn 123-45-6789 leaked"),
      StreamingSpec.Doc(3L, "nothing sensitive in this arrival"),
      StreamingSpec.Doc(4L, null))
    val batch = graft.operators.WebCurationQueries.piiScrub(docs.toDF())
      .collect().map(r => (r.getLong(0), Option(r.getString(1)))).toSet

    val stream = MemoryStream[StreamingSpec.Doc](spark)
    val (q, name) = runToMemory(
      graft.operators.WebCurationQueries.piiScrub(stream.toDF()))
    stream.addData(docs)
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table(name)
      .collect().map(r => (r.getLong(0), Option(r.getString(1)))).toSet
    assert(streamed == batch)
    val scrubbed = streamed.toMap
    assert(scrubbed(1L).get == "mail me at [EMAIL] or call [PHONE] now")
    assert(scrubbed(2L).get == "server [IP] and ssn [SSN] leaked")
    assert(scrubbed(3L).get == "nothing sensitive in this arrival")
    assert(scrubbed(4L).isEmpty)
  }

  test("ingest line cleaning: streaming replay equals batch, page gate drops, nulls pass") {
    import spark.implicits._
    // a page with 2 kept lines (fox + extra) survives with noise stripped;
    // a 1-kept-line page is dropped by the gate; a lorem page is dropped;
    // a null-text doc passes through untouched
    val keepPage = "the quick brown fox jumps over the lazy dog.\nok fine.\na second fine sentence appears right here."
    val onePage  = "just one good line right here today.\nno punct line"
    val loremPage = "a perfectly fine first sentence here.\nanother fine sentence follows right here.\nlorem ipsum dolor sit amet."
    val docs = Seq(
      StreamingSpec.Doc(1L, keepPage),
      StreamingSpec.Doc(2L, onePage),
      StreamingSpec.Doc(3L, loremPage),
      StreamingSpec.Doc(4L, null))
    def shape(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), Option(r.getString(1)))).toSet
    val batch = shape(docs.toDF()
      .filter(coalesce(graft.operators.LineCurationQueries.pageKeepCol(col("text")), lit(true)))
      .withColumn("text", graft.operators.LineCurationQueries.cleanLines(col("text"))))

    val stream = MemoryStream[StreamingSpec.Doc](spark)
    val (q, name) = runToMemory(
      graft.operators.LineCurationQueries.cleanPages(stream.toDF()))
    stream.addData(docs)
    q.processAllAvailable()
    q.stop()
    val streamed = shape(spark.table(name))
    assert(streamed == batch)
    val byId = streamed.toMap
    assert(byId.keySet == Set(1L, 4L), "gate drops the 1-kept and lorem pages")
    assert(byId(1L).get ==
      "the quick brown fox jumps over the lazy dog.\na second fine sentence appears right here.")
    assert(byId(4L).isEmpty)
  }

  test("checkpoint recovery: a restarted query resumes from committed offsets") {
    import spark.implicits._
    val ckpt = java.nio.file.Files.createTempDirectory("stream_ckpt").toString
    val out = java.nio.file.Files.createTempDirectory("stream_out").toString
    val stream = MemoryStream[Ev](spark)
    def start() = stream.toDF()
      .withWatermark("ts", "10 minutes").dropDuplicatesWithinWatermark("event_id")
      .writeStream.format("parquet")
      .option("path", out).option("checkpointLocation", ckpt)
      .start()

    val q1 = start()
    stream.addData(Seq(
      ev(1, "2026-01-01 10:00:00"), ev(1, "2026-01-01 10:00:10"), // dup id
      ev(2, "2026-01-01 10:01:00")))
    q1.processAllAvailable()
    q1.stop()

    // restart against the same checkpoint: already-committed batches must
    // not replay, state (seen ids) must survive, new data must flow
    val q2 = start()
    stream.addData(Seq(
      ev(2, "2026-01-01 10:02:00"), // dup across restart: state recovered
      ev(3, "2026-01-01 10:03:00")))
    q2.processAllAvailable()
    q2.stop()

    val ids = spark.read.parquet(out).collect().map(_.getLong(0)).sorted.toSeq
    assert(ids == Seq(1L, 2L, 3L),
      s"exactly-once across restart violated: $ids")
  }

  test("flatMapGroupsWithState sessionization: gaps close sessions with totals") {
    import spark.implicits._
    val stream = MemoryStream[Ev](spark)
    val sessions = StreamingOps.userSessions(stream.toDS(), gapMs = 5 * 60 * 1000)
    val (q, name) = runToMemory(sessions.toDF())
    stream.addData(Seq(
      ev(1, "2026-01-01 10:00:00", user = 1, value = 1.0),
      ev(2, "2026-01-01 10:02:00", user = 1, value = 2.0),
      ev(3, "2026-01-01 10:20:00", user = 1, value = 4.0), // gap > 5m: new session
      ev(4, "2026-01-01 10:00:00", user = 2, value = 8.0)))
    q.processAllAvailable()
    stream.addData(Seq(ev(9, "2026-01-01 12:00:00", user = 99))) // watermark flush
    q.processAllAvailable()
    q.stop()
    val got = spark.table(name).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .filter(_._1 != 99L).toSet
    assert(got == Set(
      (1L, 2L, 3.0),  // 10:00+10:02 closed by the 10:20 gap
      (1L, 1L, 4.0),  // 10:20 closed by timeout
      (2L, 1L, 8.0)))
  }

  test("temporal join: purchases attribute to the newest arrived click; " +
      "event-time replay equals the batch as-of") {
    import spark.implicits._
    val stream = MemoryStream[Ev](spark)
    val (q, name) = runToMemory(StreamingOps.purchaseAttribution(stream.toDS()).toDF())
    // batch 1: out-of-order WITHIN the batch — the per-batch sort fixes it
    stream.addData(Seq(
      ev(2, "2026-01-01 10:05:00", user = 1, tpe = "purchase"), // after c1
      ev(1, "2026-01-01 10:00:00", user = 1, tpe = "click"),
      ev(3, "2026-01-01 10:05:00", user = 2, tpe = "purchase"))) // no click ever
    q.processAllAvailable()
    // batch 2: tie instant — click at the same ts counts (<= semantics);
    // state carried the 10:00 click across batches
    stream.addData(Seq(
      ev(4, "2026-01-01 10:30:00", user = 1, tpe = "click"),
      ev(5, "2026-01-01 10:30:00", user = 1, tpe = "purchase"),
      ev(6, "2026-01-01 10:40:00", user = 1, tpe = "purchase")))
    q.processAllAvailable()
    q.stop()
    val got = spark.table(name).collect()
      .map(r => (r.getLong(1), Option(r.get(3)).map(_.asInstanceOf[Long])))
      .toSet
    assert(got == Set(
      (2L, Some(1L)),  // in-batch disorder handled
      (3L, None),      // LEFT semantics: purchase with no click
      (5L, Some(4L)),  // tie instant attributes to the simultaneous click
      (6L, Some(4L))))

    // event-time-ordered replay reproduces the batch as-of exactly
    val events = Seq(
      ev(1, "2026-01-01 10:00:00", user = 1, tpe = "click"),
      ev(2, "2026-01-01 10:05:00", user = 1, tpe = "purchase"),
      ev(3, "2026-01-01 10:05:00", user = 2, tpe = "purchase"),
      ev(4, "2026-01-01 10:30:00", user = 1, tpe = "click"),
      ev(5, "2026-01-01 10:30:00", user = 1, tpe = "purchase"),
      ev(6, "2026-01-01 10:40:00", user = 1, tpe = "purchase"))
    val replay = MemoryStream[Ev](spark)
    val (q2, name2) = runToMemory(StreamingOps.purchaseAttribution(replay.toDS()).toDF())
    events.foreach(e => { replay.addData(Seq(e)); q2.processAllAvailable() })
    q2.stop()
    val replayed = spark.table(name2).collect()
      .map(r => (r.getLong(0), r.getLong(1), Option(r.get(3)).map(_.asInstanceOf[Long])))
      .toSet
    // the batch as-of over the same rows, via the custom physical operator
    val purchases = events.filter(_.event_type == "purchase").toDS()
      .select($"user_id", $"ts", $"event_id".as("purchase_id"))
    val clicks = events.filter(_.event_type == "click").toDS()
      .select($"user_id", $"ts", $"event_id".as("last_click_id"))
    // output layout: user_id, ts, purchase_id, user_id_r, ts_r, last_click_id
    val batch = graft.plans.AsOfJoin.asOf(purchases, clicks, "user_id", "ts")
      .collect().map(r => (r.getLong(0), r.getLong(2),
        Option(r.get(5)).map(_.asInstanceOf[Long]))).toSet
    assert(replayed == batch)
  }

  test("streaming funnel: event-time replay equals the batch funnel") {
    import spark.implicits._
    // user 1 converts; user 2's click precedes its view (must not count);
    // user 3 views only; user 4 clicks on the SAME ts as its view (strict >)
    val events = Seq(
      ev(1, "2026-01-01 10:00:00", user = 1, tpe = "view"),
      ev(2, "2026-01-01 10:01:00", user = 1, tpe = "click"),
      ev(3, "2026-01-01 10:02:00", user = 1, tpe = "purchase"),
      ev(4, "2026-01-01 10:00:00", user = 2, tpe = "click"),
      ev(5, "2026-01-01 10:01:00", user = 2, tpe = "view"),
      ev(6, "2026-01-01 10:02:00", user = 2, tpe = "purchase"),
      ev(7, "2026-01-01 10:00:00", user = 3, tpe = "view"),
      ev(8, "2026-01-01 10:03:00", user = 4, tpe = "view"),
      ev(9, "2026-01-01 10:03:00", user = 4, tpe = "click"))
    val stream = MemoryStream[Ev](spark)
    val (q, name) = runToMemory(StreamingOps.funnel(stream.toDS()).toDF())
    // strict event-time-ordered replay, one micro-batch per event
    events.sortBy(_.ts.getTime).foreach { e =>
      stream.addData(Seq(e)); q.processAllAvailable()
    }
    q.stop()
    // latest progress row per user == the funnel position
    val got = spark.table(name).collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getLong(2), r.getLong(3))))
      .groupBy(_._1).map { case (u, rows) => u -> rows.last._2 }
    def ms(s: String): Long = ts(s).getTime
    assert(got == Map(
      1L -> ((ms("2026-01-01 10:00:00"), ms("2026-01-01 10:01:00"), ms("2026-01-01 10:02:00"))),
      2L -> ((ms("2026-01-01 10:01:00"), -1L, -1L)),
      3L -> ((ms("2026-01-01 10:00:00"), -1L, -1L)),
      4L -> ((ms("2026-01-01 10:03:00"), -1L, -1L))), got)

    // the batch query over the same rows agrees on the summary counts
    val tmp = java.nio.file.Files.createTempDirectory("sfunnel").toString
    events.toDF().write.mode("overwrite").parquet(s"$tmp/events.parquet")
    val b = graft.operators.AnalyticsQueries.q59Funnel(spark, tmp).head()
    assert((b.getLong(0), b.getLong(1), b.getLong(2)) == ((4L, 1L, 1L)), b)
  }

  test("end-to-end pipeline: dedup -> tumble -> exactly-once parquet sink " +
      "equals the batch computation") {
    import spark.implicits._
    // duplicate event_ids across two batches; the pipeline must dedup,
    // aggregate closed windows, and persist exactly once despite a replay
    val batch1 = Seq(
      ev(1, "2026-01-01 10:05:00", tpe = "view", value = 2.0),
      ev(2, "2026-01-01 10:30:00", tpe = "click", value = 1.5),
      ev(1, "2026-01-01 10:05:00", tpe = "view", value = 2.0)) // dup in-batch
    val batch2 = Seq(
      ev(2, "2026-01-01 10:30:00", tpe = "click", value = 1.5), // dup cross-batch
      ev(3, "2026-01-01 11:10:00", tpe = "view", value = 4.0))
    // watermark 2h: the 10:30 cross-batch duplicate is still inside it
    // after batch 2 (wm = 11:10 - 2h), and the 15:00 sentinel closes every
    // real window (wm = 13:00) while its own stays open (excluded below)
    val sentinel = ev(99, "2026-01-01 15:00:00", tpe = "sentinel")

    val sink = java.nio.file.Files.createTempDirectory("graft_e2e_sink").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft_e2e_ckpt").toString
    val stream = MemoryStream[Ev](spark)
    val piped = StreamingOps.tumble(
      stream.toDF().withWatermark("ts", "2 hours")
        .dropDuplicatesWithinWatermark("event_id"),
      watermark = None) // dedup already set it: one watermark per pipeline
    val q = graft.sources.Sinks.exactlyOnce(piped, ckpt)(
      graft.sources.Sinks.writeBatchIdempotent(_, _, sink))
    stream.addData(batch1); q.processAllAvailable()
    stream.addData(batch2); q.processAllAvailable()
    stream.addData(Seq(sentinel)); q.processAllAvailable()
    q.stop()

    def read(): Set[(Timestamp, String, Long, Double)] =
      spark.read.parquet(sink)
        .select($"h", $"event_type", $"cnt", $"sv")
        .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2), r.getDouble(3)))
        .toSet
    val expected = StreamingOps.tumble(
      (batch1 ++ batch2).distinct.toDF())
      .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2), r.getDouble(3)))
      .toSet
    assert(read() == expected)

    // replay the last committed batch id -> still exactly once
    val lastBatch = spark.read.parquet(sink)
      .select(org.apache.spark.sql.functions.max($"batch_id"))
      .head().getAs[Number](0).longValue() // partition values read back as int
    graft.sources.Sinks.writeBatchIdempotent(
      spark.read.parquet(sink).filter($"batch_id" === lastBatch).drop("batch_id"),
      lastBatch, sink)
    assert(read() == expected, "replayed sink batch must not duplicate")
  }

  test("stream-static decontamination: replay emits q66's contaminated doc " +
      "set exactly once across micro-batches") {
    import spark.implicits._
    import graft.operators.TextQueries
    // the TextEdgeSpec decontamination corpus: doc 7 is the benchmark split
    val docs = Seq(
      7L -> "x y z w", 1L -> "x y z q", 2L -> "a b c d",
      3L -> "x y z w x y z", 4L -> "a b")
    val bench = TextQueries.docGrams3(
      docs.filter(_._1 % 10 == 7).toDF("doc_id", "text")).select($"gram").distinct()

    val stream = MemoryStream[StreamingSpec.Doc](spark)
    val (q, name) = runToMemory(
      StreamingOps.contaminatedDocs(stream.toDF(), bench))
    val train = docs.filter(_._1 % 10 != 7).map((StreamingSpec.Doc.apply _).tupled)
    stream.addData(train.take(2)) // docs 1 (contaminated) and 2 (clean)
    q.processAllAvailable()
    assert(spark.table(name).as[Long].collect().toSet == Set(1L))
    // doc 3 contaminated; re-sending doc 1 must NOT re-emit (streaming dedup)
    stream.addData(train.drop(2) :+ StreamingSpec.Doc(1L, "x y z q"))
    q.processAllAvailable()
    q.stop()
    val got = spark.table(name).as[Long].collect()
    assert(got.sorted.toSeq == Seq(1L, 3L), got.toSeq)
    // batch twin: the same transform over the full train frame in one go
    val batch = StreamingOps.contaminatedDocs(
      docs.filter(_._1 % 10 != 7).toDF("doc_id", "text"), bench)
      .as[Long].collect().toSet
    assert(batch == Set(1L, 3L))
  }

  test("stream-static near-dup ingest: arriving docs probe the persisted " +
      "band index, pairs emitted exactly once across micro-batches") {
    import spark.implicits._
    import graft.operators.DedupQueries
    // standing corpus: near-dup family (1, 11) + unrelated 4
    val corpus = Seq(
      1L -> "alpha beta gamma delta epsilon zeta eta theta iota kappa",
      11L -> "alpha beta gamma delta epsilon zeta eta theta iota lambda",
      4L -> "one two three four five six seven eight nine ten")
    val idxDir = java.nio.file.Files.createTempDirectory("stream_ndidx").toString
    DedupQueries.buildNearDupIndex(spark, corpus.toDF("doc_id", "text"), idxDir)
    val index = spark.read.parquet(s"$idxDir/bands.parquet")

    val arrivals = Seq(
      StreamingSpec.Doc(3L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      StreamingSpec.Doc(13L, "unrelated words entirely fresh content nothing shared"))
    val stream = MemoryStream[StreamingSpec.Doc](spark)
    val (q, name) = runToMemory(StreamingOps.nearDupArrivals(stream.toDF(), index))
    stream.addData(arrivals.take(1)) // the near-dup arrival
    q.processAllAvailable()
    val first = spark.table(name).as[(Long, Long)].collect().toSet
    assert(first.contains((3L, 1L)), s"arrival 3 must hit corpus doc 1: $first")
    assert(first.forall(_._1 == 3L), s"only arrival-side ids on the left: $first")
    // batch 2: clean doc 13 + a RE-ARRIVAL of 3 — no pair may re-emit
    stream.addData(arrivals.drop(1) :+ arrivals.head)
    q.processAllAvailable()
    q.stop()
    val got = spark.table(name).as[(Long, Long)].collect()
    assert(got.length == got.toSet.size, s"duplicate emission: ${got.toSeq}")
    assert(got.toSet == first, s"clean doc 13 must add nothing: ${got.toSeq}")
    // replay == the same probe over the arrivals as one batch frame
    val batch = DedupQueries.probeBands(
        DedupQueries.bandDocs(
          arrivals.map(d => (d.doc_id, d.text)).toDF("doc_id", "text")),
        DedupQueries.readNearDupIndex(spark, idxDir))
      .distinct().as[(Long, Long)].collect().toSet
    assert(batch == got.toSet, s"batch $batch != replay ${got.toSet}")
  }

  /** Benchmark grams and a freshly built band index over the standing
    * corpus of the ingest lifecycle tests. */
  private def ingestFixture(tag: String): (DataFrame, String) = {
    import spark.implicits._
    val bench = graft.operators.TextQueries.docGrams3(
      Seq(7L -> "held out evaluation prompt text").toDF("doc_id", "text"))
      .select($"gram").distinct()
    val idxDir = java.nio.file.Files.createTempDirectory(s"${tag}_idx").toString
    graft.operators.DedupQueries.buildNearDupIndex(
      spark, StreamingSpec.IngestCorpus.toDF("doc_id", "text"), idxDir)
    (bench, idxDir)
  }

  /** Run [[StreamingOps.ingestLifecycle]] over the given arrival batches,
    * one micro-batch per `addData`. */
  private def runIngest(bench: DataFrame, idxDir: String, sink: String,
      pairsDir: String, ckpt: String, batches: Seq[StreamingSpec.Doc]*): Unit = {
    import spark.implicits._
    val stream = MemoryStream[StreamingSpec.Doc](spark)
    val q = StreamingOps.ingestLifecycle(
      stream.toDF(), bench, idxDir, sink, pairsDir, ckpt)
    batches.foreach { b => stream.addData(b); q.processAllAvailable() }
    q.stop()
  }

  private def ingestFrame(b: Seq[StreamingSpec.Doc]): DataFrame = {
    import spark.implicits._
    b.map(d => (d.doc_id, d.text)).toDF("doc_id", "text")
  }

  /** `b`'s band probe against the index state a micro-batch with id
    * `batchId` saw: every partition below it (the base is -1). */
  private def probedAt(idxDir: String, b: DataFrame, batchId: Long): DataFrame = {
    import graft.operators.DedupQueries
    DedupQueries.probeBands(DedupQueries.bandDocs(b),
      DedupQueries.readNearDupIndex(spark, idxDir)
        .filter(org.apache.spark.sql.functions.col("batch_id") < batchId))
  }

  test("composed ingest lifecycle: stream -> decontaminate -> near-dup " +
      "filter -> sharded exactly-once landing equals the batch drop chain") {
    import spark.implicits._
    import graft.operators.AnalyticsQueries
    import StreamingSpec.{IngestBatch0 => batch0, IngestBatch1 => batch1}
    val (bench, idxDir) = ingestFixture("ingest")
    val sink = java.nio.file.Files.createTempDirectory("ingest_sink").toString + "/out"
    val pairsDir = java.nio.file.Files.createTempDirectory("ingest_pairs").toString + "/pairs"
    val ckpt = java.nio.file.Files.createTempDirectory("ingest_ckpt").toString
    runIngest(bench, idxDir, sink, pairsDir, ckpt, batch0, batch1)

    def landed() = spark.read.parquet(sink)
      .select($"doc_id", $"text", $"shard").collect()
      .map(r => (r.getLong(0), Option(r.getString(1)), r.getAs[Number](2).longValue()))
      .toSet
    val got = landed()
    assert(got.map(_._1) == Set(30L, 32L, 34L, 35L),
      s"20 near-dups the corpus, 21 is contaminated, 31 near-dups accepted " +
        s"doc 30, 33 is a within-batch copy; BOTH null-text docs land: $got")
    // shard assignment is the q73 manifest hash, not arrival order
    assert(got.forall { case (id, _, s) =>
      s == java.lang.Long.parseLong(
        org.apache.commons.codec.digest.DigestUtils.md5Hex(id.toString).take(1), 16)
    }, got)

    // replay == batch: per batch, the SAME drop chain against the
    // pre-append index state reproduces the landed shards exactly
    val keptTwin = Seq(batch0, batch1).zipWithIndex.flatMap { case (b, i) =>
      val f = ingestFrame(b)
      StreamingOps.cleanIngestBatch(f, probedAt(idxDir, f, i.toLong), bench)
        .withColumn("shard", AnalyticsQueries.shardCol)
        .collect().map(r => (r.getLong(0), Option(r.getString(1)), r.getLong(2)))
    }.toSet
    assert(got == keptTwin, s"landed $got != batch twin $keptTwin")

    // exactly-once: re-deliver the last batch (crash-replay) -> unchanged
    graft.sources.Sinks.writeShardedBatchIdempotent(
      spark.read.parquet(sink)
        .filter($"batch_id" === 1L).select($"doc_id", $"text"),
      1L, sink)
    assert(landed() == got, "replayed batch must not duplicate landed docs")
  }

  test("growing-index ingest lifecycle: accepted arrivals join the index, " +
      "a later near-dup of them is dropped, and replayed appends are idempotent") {
    import spark.implicits._
    import graft.operators.DedupQueries
    import StreamingSpec.{IngestBatch0 => batch0, IngestBatch1 => batch1}
    val (bench, idxDir) = ingestFixture("grow")
    val sink = java.nio.file.Files.createTempDirectory("grow_sink").toString + "/out"
    val pairsDir = java.nio.file.Files.createTempDirectory("grow_pairs").toString + "/pairs"
    val ckpt = java.nio.file.Files.createTempDirectory("grow_ckpt").toString
    runIngest(bench, idxDir, sink, pairsDir, ckpt, batch0, batch1)

    val landed = spark.read.parquet(sink).select($"doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(landed == Set(30L, 32L, 34L, 35L),
      s"doc 31 must near-dup against accepted doc 30; 33 is a within-batch " +
        s"copy; BOTH null-text docs land: $landed")
    // the frozen chain against the BASE index alone would have kept 31
    val b1 = ingestFrame(batch1)
    val frozenKept = StreamingOps.cleanIngestBatch(b1, probedAt(idxDir, b1, 0L), bench)
      .select($"doc_id").collect().map(_.getLong(0)).toSet
    assert(frozenKept == Set(31L, 32L, 34L, 35L), s"frozen twin sanity: $frozenKept")

    // index holds base + one partition per batch, only accepted docs' bands
    // (null-text docs have none)
    val idx = spark.read.parquet(s"$idxDir/bands.parquet")
      .select($"doc_id", $"band", $"bsig", $"batch_id").collect()
      .map(r => (r.getLong(0), r.getAs[Number](3).longValue()))
    assert(idx.map(_._2).toSet == Set(-1L, 0L, 1L))
    assert(idx.filter(_._2 >= 0L).map(_._1).toSet == Set(30L, 32L))
    // crash-replay of batch 1's append: same rows, same count — idempotent
    val before = spark.read.parquet(s"$idxDir/bands.parquet").collect()
      .map(_.toString).sorted.toSeq
    DedupQueries.appendToNearDupIndex(
      DedupQueries.bandDocs(
        Seq(32L -> "independent clean arrival with other novel vocabulary")
          .toDF("doc_id", "text")), idxDir, 1L)
    val after = spark.read.parquet(s"$idxDir/bands.parquet").collect()
      .map(_.toString).sorted.toSeq
    assert(after == before, "replayed append must replace, not duplicate")
    // nightly compaction folds the batch partitions into the base:
    // contents identical, one partition remains
    val preCompact = spark.read.parquet(s"$idxDir/bands.parquet")
      .select($"doc_id", $"band", $"bsig").collect().map(_.toString).sorted.toSeq
    DedupQueries.compactNearDupIndex(spark, idxDir)
    // post-compaction the live generation is manifest-addressed: the
    // pointer names gen-1 and the legacy directory is swept
    val compacted = DedupQueries.readNearDupIndex(spark, idxDir)
    assert(compacted.select($"doc_id", $"band", $"bsig").collect()
      .map(_.toString).sorted.toSeq == preCompact)
    assert(compacted.select($"batch_id").distinct().collect()
      .map(_.getAs[Number](0).longValue()).toSeq == Seq(-1L))
    val manifest = new java.io.File(s"$idxDir/bands.parquet.MANIFEST")
    assert(manifest.exists())
    assert(java.nio.file.Files.readString(manifest.toPath).trim
      == "bands.parquet.gen-1")
    // grace window: the JUST-superseded generation survives one cycle so
    // readers that resolved the old pointer finish against intact files
    assert(new java.io.File(s"$idxDir/bands.parquet").exists(),
      "superseded generation must survive one compaction cycle")

    // crash BETWEEN generation write and pointer swap (VERDICT r7 #8):
    // a half-written next generation exists but the manifest still names
    // the old one — readers keep the old generation, untouched
    val partial = new java.io.File(s"$idxDir/bands.parquet.gen-2")
    assert(partial.mkdirs())
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(partial.getPath, "part-garbage.parquet"),
      "not parquet")
    assert(DedupQueries.readNearDupIndex(spark, idxDir)
      .select($"doc_id", $"band", $"bsig").collect()
      .map(_.toString).sorted.toSeq == preCompact,
      "old generation must stay readable behind the unswapped pointer")
    // the next compaction overwrites the partial sibling and completes
    DedupQueries.compactNearDupIndex(spark, idxDir)
    assert(java.nio.file.Files.readString(manifest.toPath).trim
      == "bands.parquet.gen-2")
    assert(DedupQueries.readNearDupIndex(spark, idxDir)
      .select($"doc_id", $"band", $"bsig").collect()
      .map(_.toString).sorted.toSeq == preCompact)
    assert(new java.io.File(s"$idxDir/bands.parquet.gen-1").exists(),
      "gen-1 is in its grace cycle after the gen-2 swap")
    assert(!new java.io.File(s"$idxDir/bands.parquet").exists(),
      "generations two swaps old must be swept")
    // a third compaction retires gen-1
    DedupQueries.compactNearDupIndex(spark, idxDir)
    assert(java.nio.file.Files.readString(manifest.toPath).trim
      == "bands.parquet.gen-3")
    assert(!new java.io.File(s"$idxDir/bands.parquet.gen-1").exists(),
      "grace window is one cycle, not forever")
    assert(DedupQueries.readNearDupIndex(spark, idxDir)
      .select($"doc_id", $"band", $"bsig").collect()
      .map(_.toString).sorted.toSeq == preCompact)

    // append lands in the CURRENT generation, and probes keep seeing it
    DedupQueries.appendToNearDupIndex(
      DedupQueries.bandDocs(
        Seq(90L -> "fresh doc appended after two compactions with new words")
          .toDF("doc_id", "text")), idxDir, 7L)
    assert(DedupQueries.readNearDupIndex(spark, idxDir)
      .filter($"batch_id" === 7L).select($"doc_id").distinct().collect()
      .map(_.getLong(0)).toSeq == Seq(90L))
  }

  test("growing lifecycle with pairs: the incremental q122 surface lands " +
      "exactly-once, replay equals the batch twin, pairs explain the drops") {
    import spark.implicits._
    import StreamingSpec.{IngestBatch0 => batch0, IngestBatch1 => batch1}
    val (bench, idxDir) = ingestFixture("gp")
    val sink = java.nio.file.Files.createTempDirectory("gp_sink").toString + "/out"
    val pairsDir = java.nio.file.Files.createTempDirectory("gp_pairs").toString + "/pairs"
    val ckpt = java.nio.file.Files.createTempDirectory("gp_ckpt").toString
    runIngest(bench, idxDir, sink, pairsDir, ckpt, batch0, batch1)

    val landed = spark.read.parquet(sink).select($"doc_id")
      .collect().map(_.getLong(0)).toSet
    val pairs = spark.read.parquet(pairsDir)
      .select($"doc_a", $"doc_b", $"reason",
        $"batch_id".cast("long").as("batch_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3)))
      .toSet
    // the q122 contract at ingest time: one pair per dedup-dropped doc,
    // doc_b = its standing canonical, tagged with the stage that caught it;
    // contamination (doc 21) contributes no rows
    assert(pairs == Set(
      (20L, 1L, "near_dup_index", 0L),
      (31L, 30L, "near_dup_index", 1L),
      (33L, 32L, "exact_batch", 1L)), s"pairs: $pairs")
    assert(pairs.map(_._1).intersect(landed).isEmpty,
      "no kept doc appears as doc_a")

    // replay == batch: per batch, the pair surface against the pre-append
    // index state reproduces the landed pairs exactly
    val pairsTwin = Seq(batch0, batch1).zipWithIndex.flatMap { case (b, i) =>
      val f = ingestFrame(b)
      StreamingOps.ingestDropPairs(f, probedAt(idxDir, f, i.toLong))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2), i.toLong))
    }.toSet
    assert(pairsTwin == pairs, s"pairs batch twin: $pairsTwin")

    // exactly-once: re-landing batch 1's pairs replaces its partition
    val b1 = ingestFrame(batch1)
    graft.sources.Sinks.writeBatchIdempotent(
      StreamingOps.ingestDropPairs(b1, probedAt(idxDir, b1, 1L)), 1L, pairsDir)
    assert(spark.read.parquet(pairsDir).count() == pairs.size,
      "replayed pairs must replace, not duplicate")

    // precise contamination semantics (review r15): the drop sets are
    // computed independently over the full batch, so a CONTAMINATED
    // within-batch duplicate still carries its dedup pair — its dedup
    // provenance is real even though stage 1 also drops it — and
    // contamination itself contributes no rows
    val contaminatedText = "held out evaluation prompt text padded with words"
    val cb = Seq(50L -> contaminatedText, 51L -> contaminatedText)
      .toDF("doc_id", "text")
    val cbPairs = StreamingOps.ingestDropPairs(cb, probedAt(idxDir, cb, 0L))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    assert(cbPairs == Set((51L, 50L, "exact_batch")), s"contaminated dup: $cbPairs")
    val cbKept = StreamingOps.cleanIngestBatch(cb, probedAt(idxDir, cb, 0L), bench)
      .select($"doc_id").collect()
    assert(cbKept.isEmpty, "both copies are contamination-dropped")
  }

  test("ingest lifecycle restart: re-running a batch whose index append " +
      "already landed reproduces the shards, pairs and index rows") {
    import spark.implicits._
    import StreamingSpec.{IngestBatch0 => batch0, IngestBatch1 => batch1}
    val (bench, idxDir) = ingestFixture("restart")
    val sink = java.nio.file.Files.createTempDirectory("restart_sink").toString + "/out"
    val pairsDir = java.nio.file.Files.createTempDirectory("restart_pairs").toString + "/pairs"
    val ckpt = java.nio.file.Files.createTempDirectory("restart_ckpt").toString
    def snapshot(): Seq[Seq[String]] =
      Seq(spark.read.parquet(sink), spark.read.parquet(pairsDir),
          graft.operators.DedupQueries.readNearDupIndex(spark, idxDir))
        .map(_.collect().map(_.toString).sorted.toSeq)
    runIngest(bench, idxDir, sink, pairsDir, ckpt, batch0, batch1)
    val first = snapshot()
    assert(first(2).exists(_.endsWith(",1]")), "batch 1 appended to the index")

    // lose batch 1's commit: the crash after every write of the batch but
    // before the checkpoint commit. The restarted query re-runs batch 1
    // with batch 1's partition already in the index.
    val commits = new java.io.File(ckpt, "commits")
    Seq("1", ".1.crc").map(new java.io.File(commits, _)).filter(_.exists())
      .foreach(f => assert(f.delete(), f))
    val stream = MemoryStream[StreamingSpec.Doc](spark)
    stream.addData(batch0)
    stream.addData(batch1)
    val q = StreamingOps.ingestLifecycle(
      stream.toDF(), bench, idxDir, sink, pairsDir, ckpt)
    q.processAllAvailable()
    q.stop()
    assert(q.recentProgress.exists(p => p.batchId == 1L && p.numInputRows > 0),
      "the restart must re-run batch 1")
    assert(snapshot() == first, "a re-run batch must reproduce its output")
  }

  test("train/serve split: frozen-weight scoring reproduces the fused q102 scorer") {
    import graft.operators.WebCurationQueries
    val docs = graft.operators.Tables.documents(spark, "/root/testdata/sf0.001")
    val fused = WebCurationQueries.classifierScores(docs)
      .collect().map(r => (r.getLong(0), (r.getLong(2), r.getLong(3), r.getBoolean(4)))).toMap
    val split = WebCurationQueries
      .scoreWithClassifier(docs, WebCurationQueries.classifierWeights(docs))
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getLong(2), r.getBoolean(3)))).toMap
    assert(split === fused)
    assert(split.nonEmpty)
  }

  test("scored ingest: streaming replay equals the batch scorer over frozen " +
      "models, unscorable and null docs pass through with null scores") {
    import spark.implicits._
    import graft.operators.{TextQueries, WebCurationQueries, AnalyticsQueries}
    // standing corpus: curated slice (src0/src1) trains both models;
    // src42 is the crawl side (labels only matter at training time)
    val corpus = Seq(
      (1L, "src0", "good clean prose flows here nicely today"),
      (2L, "src0", "good clean prose flows here again tomorrow"),
      (3L, "src1", "another fine curated document with clean prose"),
      (4L, "src42", "zz yy xx ww vv uu tt ss")).toDF("doc_id", "source", "text")
    val weights = WebCurationQueries.classifierWeights(corpus)
    val lm = TextQueries.bigramLmModel(corpus)
    val dsir = WebCurationQueries.dsirModel(corpus)
    // the DSIR model is DENSE: one term for every bucket in the hash range
    assert(dsir.count() == 4096L)

    val arrivals = Seq(
      // bigrams all inside the curated censuses -> LM never backs off
      StreamingSpec.Doc(30L, "good clean prose flows here"),
      // novel words -> classifier unseen buckets (weight 0), LM backs off
      StreamingSpec.Doc(31L, "qq rr completely novel arrival words"),
      // single word: < 2 tokens AND < 2 normalized words -> both null
      StreamingSpec.Doc(32L, "solitary"),
      StreamingSpec.Doc(33L, null))

    val sink = java.nio.file.Files.createTempDirectory("scored_sink").toString + "/out"
    val ckpt = java.nio.file.Files.createTempDirectory("scored_ckpt").toString
    val stream = MemoryStream[StreamingSpec.Doc](spark)
    val q = StreamingOps.scoredArrivals(stream.toDF(), weights, lm, dsir, sink, ckpt)
    stream.addData(arrivals.take(2))
    q.processAllAvailable()
    stream.addData(arrivals.drop(2))
    q.processAllAvailable()
    q.stop()

    type RowT = (Long, Option[String], Option[Long], Option[Boolean], Option[Long], Option[Double], Option[Double], Option[Boolean], Long)
    def key(r: org.apache.spark.sql.Row): RowT = (
      r.getAs[Long]("doc_id"), Option(r.getAs[String]("text")),
      Option(r.getAs[java.lang.Long]("qc_score")).map(_.longValue()),
      Option(r.getAs[java.lang.Boolean]("qc_keep")).map(_.booleanValue()),
      Option(r.getAs[java.lang.Long]("lm_oov")).map(_.longValue()),
      Option(r.getAs[java.lang.Double]("lm_h_nats")).map(_.doubleValue()),
      Option(r.getAs[java.lang.Double]("dsir_logw")).map(_.doubleValue()),
      Option(r.getAs[java.lang.Boolean]("dsir_keep")).map(_.booleanValue()),
      r.getAs[Number]("shard").longValue())
    def landed() = spark.read.parquet(sink).collect().map(key).toSet
    val got = landed()

    // replay == batch: the SAME scorer over all arrivals as one frame
    val twin = StreamingOps.scoreIngestBatch(
      arrivals.map(d => (d.doc_id, d.text)).toDF("doc_id", "text"),
      weights, lm, dsir)
      .withColumn("shard", AnalyticsQueries.shardCol)
      .collect().map(key).toSet
    assert(got == twin, s"landed $got != batch twin $twin")

    val byId = got.map(r => r._1 -> r).toMap
    assert(byId.keySet == Set(30L, 31L, 32L, 33L)) // nothing dropped
    // in-census arrival: scored by all three models, zero backoffs,
    // curated-leaning importance weight (its grams dominate the target LM)
    assert(byId(30L)._3.nonEmpty && byId(30L)._5.contains(0L))
    assert(byId(30L)._7.exists(_ > 0.0) && byId(30L)._8.contains(true))
    // novel arrival: unseen buckets score 0 -> qc_score 0, keep true at
    // the >= 0 threshold; every bigram backs off (6 tokens -> 5 bigrams);
    // DSIR's dense model gives unseen buckets the ln((Nr+B)/(Nt+B)) prior
    // — raw-leaning here (more curated than crawl grams in the corpus)
    assert(byId(31L)._3.contains(0L) && byId(31L)._4.contains(true))
    assert(byId(31L)._5.contains(5L) && byId(31L)._6.nonEmpty)
    assert(byId(31L)._7.exists(_ < 0.0) && byId(31L)._8.contains(false))
    // unscorable and null docs: pass through, all score columns null
    Seq(32L, 33L).foreach { id =>
      assert(byId(id)._3.isEmpty && byId(id)._4.isEmpty &&
        byId(id)._5.isEmpty && byId(id)._6.isEmpty &&
        byId(id)._7.isEmpty && byId(id)._8.isEmpty, s"doc $id not null-scored")
    }
    // exactly-once unchanged: re-deliver the last batch -> same landed set
    val lastBatch = spark.read.parquet(sink)
      .select(org.apache.spark.sql.functions.max($"batch_id"))
      .head().getAs[Number](0).longValue()
    graft.sources.Sinks.writeShardedBatchIdempotent(
      StreamingOps.scoreIngestBatch(
        arrivals.drop(2).map(d => (d.doc_id, d.text)).toDF("doc_id", "text"),
        weights, lm, dsir),
      lastBatch, sink)
    assert(landed() == got, "replayed scored batch must not change the landed set")
  }

  test("train/serve split: frozen dense DSIR model reproduces the fused q115 " +
      "scorer on the training corpus's crawl slice") {
    import graft.operators.WebCurationQueries
    import org.apache.spark.sql.functions.{col, expr}
    val docs = graft.operators.Tables.documents(spark, "/root/testdata/sf0.001")
    val fused = WebCurationQueries.dsirWeights(docs)
      .collect().map(r => (r.getLong(0),
        (r.getLong(1), r.getDouble(2), r.getBoolean(3)))).toMap
    val crawl = docs.filter(col("text").isNotNull)
      .filter(expr("CAST(replace(source, 'src', '') AS INT) >= 10"))
      .select("doc_id", "text")
    val split = WebCurationQueries
      .scoreWithDsir(crawl, WebCurationQueries.dsirModel(docs))
      .collect().map(r => (r.getLong(0),
        (r.getLong(1), r.getDouble(2), r.getBoolean(3)))).toMap
    assert(split === fused)
    assert(split.nonEmpty)
  }

  test("BPE-budgeted ingest: frozen-tokenizer counts land exactly once and " +
      "the packing manifest over landed shards equals the fused q108 twin") {
    import spark.implicits._
    import graft.operators.{AnalyticsQueries, TextQueries}
    // the tokenizer artifact is versioned with the model: built ONCE from
    // the standing corpus, loaded as a bounded merge table
    val tokDir = java.nio.file.Files.createTempDirectory("bpe_ingest_art").toString
    TextQueries.buildBpeTokenizer(spark, "/root/testdata/sf0.001", tokDir)
    val merges = TextQueries.loadBpeMerges(spark, tokDir)
    assert(merges.nonEmpty)

    val arrivals = Seq(
      StreamingSpec.LDoc(40L, "en", "the quick brown fox jumps over the lazy dog"),
      StreamingSpec.LDoc(41L, "en", "pack my box with five dozen liquor jugs"),
      StreamingSpec.LDoc(42L, "de", "zz completely novel arrival words here"),
      StreamingSpec.LDoc(43L, "de", null)) // uncountable: lands with null counts

    val sink = java.nio.file.Files.createTempDirectory("tok_sink").toString + "/out"
    val ckpt = java.nio.file.Files.createTempDirectory("tok_ckpt").toString
    val stream = MemoryStream[StreamingSpec.LDoc](spark)
    val q = StreamingOps.tokenizedArrivals(stream.toDF(), merges, sink, ckpt)
    stream.addData(arrivals.take(2))
    q.processAllAvailable()
    stream.addData(arrivals.drop(2))
    q.processAllAvailable()
    q.stop()

    type RowT = (Long, String, Option[String], Option[Long], Option[Long], Long)
    def key(r: org.apache.spark.sql.Row): RowT = (
      r.getAs[Long]("doc_id"), r.getAs[String]("lang"),
      Option(r.getAs[String]("text")),
      Option(r.getAs[java.lang.Long]("n_words")).map(_.longValue()),
      Option(r.getAs[java.lang.Long]("n_tokens")).map(_.longValue()),
      r.getAs[Number]("shard").longValue())
    def landed() = spark.read.parquet(sink).collect().map(key).toSet
    val got = landed()

    // replay == batch: the SAME pure-apply annotation over all arrivals
    val arrivalsDf = arrivals.toDF()
    val twin = StreamingOps.tokenizeIngestBatch(arrivalsDf, merges)
      .withColumn("shard", AnalyticsQueries.shardCol)
      .collect().map(key).toSet
    assert(got == twin, s"landed $got != batch twin $twin")
    val byId = got.map(r => r._1 -> r).toMap
    assert(byId.keySet == Set(40L, 41L, 42L, 43L)) // nothing dropped
    assert(byId(40L)._5.exists(_ > 0))
    assert(byId(43L)._4.isEmpty && byId(43L)._5.isEmpty) // null text -> null counts

    // the packing MANIFEST from the LANDED counts is the fused q108 over
    // the same corpus + tokenizer — a training job packs from stored
    // counts, never by re-tokenizing
    val budget = 8L
    def manifestKey(r: org.apache.spark.sql.Row) =
      (r.getAs[String]("lang"), r.getAs[Long]("shard"), r.getAs[Long]("bin"),
        r.getAs[Long]("n_docs"), r.getAs[Long]("sum_tokens"))
    val fromLanded = TextQueries.packingFromCounts(
        spark.read.parquet(sink).filter(col("n_tokens").isNotNull)
          .select(col("doc_id"), col("lang"), col("n_tokens")), budget)
      .collect().map(manifestKey).toSeq
    val fused = TextQueries.tokenPackingWith(
        arrivalsDf.filter(col("text").isNotNull), merges, budget)
      .collect().map(manifestKey).toSeq
    assert(fromLanded == fused, s"$fromLanded != $fused")
    assert(fromLanded.nonEmpty)

    // exactly-once: re-deliver the last batch -> landed set unchanged
    val lastBatch = spark.read.parquet(sink)
      .select(org.apache.spark.sql.functions.max($"batch_id"))
      .head().getAs[Number](0).longValue()
    graft.sources.Sinks.writeShardedBatchIdempotent(
      StreamingOps.tokenizeIngestBatch(arrivals.drop(2).toDF(), merges),
      lastBatch, sink)
    assert(landed() == got, "replayed tokenized batch must not change the landed set")
  }

  test("q78's column-derived kept equals the real drop chain's survivor " +
      "set on the sf0.001 split") {
    // q78 derives kept as !contaminated && !near_dup && !batch_dup in one
    // pass (r16) instead of re-running cleanIngestBatch; this pin keeps the
    // column form and the production chain from drifting apart.
    import graft.operators.{CurationPipeline, DedupQueries, Tables, TextQueries}
    val dir = "/root/testdata/sf0.001"
    val docs = Tables.documents(spark, dir)
    val arrivals = docs.filter(
      col("doc_id") % DedupQueries.IncrMod === DedupQueries.IncrRes)
    val corpus = docs.filter(
      col("doc_id") % DedupQueries.IncrMod =!= DedupQueries.IncrRes)
    val bench = TextQueries.benchmarkGrams(docs.filter(
      col("doc_id") % TextQueries.DecontamMod === TextQueries.DecontamRes))
    val index = DedupQueries.bandDocs(corpus)
    val chain = StreamingOps.cleanIngestBatch(arrivals,
        DedupQueries.probeBands(DedupQueries.bandDocs(arrivals), index), bench)
      .select(col("doc_id")).collect().map(_.getLong(0)).toSet
    val entry = CurationPipeline.q78IngestClean(spark, dir)
    val cols = entry.filter(col("kept"))
      .select(col("doc_id")).collect().map(_.getLong(0)).toSet
    assert(cols == chain,
      s"kept column diverges from the chain: only-cols=${cols -- chain} " +
        s"only-chain=${chain -- cols}")
    assert(cols.nonEmpty && entry.count() > cols.size,
      "fixture degenerate: nothing kept or nothing dropped")
  }
}

object StreamingSpec {
  final case class Doc(doc_id: Long, text: String)
  final case class LDoc(doc_id: Long, lang: String, text: String)

  /** The ingest lifecycle tests' standing corpus (the near-dup source). */
  val IngestCorpus = Seq(
    1L -> "alpha beta gamma delta epsilon zeta eta theta iota kappa",
    4L -> "one two three four five six seven eight nine ten")
  private val Fresh = "totally fresh document with new words never seen before"
  val IngestBatch0 = Seq(
    // near-dup of corpus doc 1 -> dropped, pair (20 -> 1)
    Doc(20L, "alpha beta gamma delta epsilon zeta eta theta iota lambda"),
    // contains a benchmark 3-gram -> dropped, no pair
    Doc(21L, "contains the held out evaluation prompt inside it"),
    // clean -> lands, and its bands join the index
    Doc(30L, Fresh))
  val IngestBatch1 = Seq(
    // near-dup of doc 30 (LAST word changed — only the final shingle
    // differs, so band signatures still collide) — dropped ONLY because
    // doc 30's acceptance grew the index; pair (31 -> 30)
    Doc(31L, Fresh.replace("before", "previously")),
    Doc(32L, "independent clean arrival with other novel vocabulary"),
    // exact copy of doc 32 in the SAME batch — the within-batch blind
    // spot: the index can't catch it (batch bands aren't appended yet),
    // the batch-internal exact dedup stage must; pair (33 -> 32)
    Doc(33L, "independent clean arrival with other novel vocabulary"),
    // two DISTINCT metadata-only (null-text) arrivals in one batch:
    // exempt from every drop stage — the md5(text) family key must not
    // collapse them into one "duplicate" family
    Doc(34L, null),
    Doc(35L, null))
}
