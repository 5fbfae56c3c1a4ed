package graft.perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.streaming.StreamingQueryListener
import scala.collection.concurrent.TrieMap
import scala.jdk.CollectionConverters._

/** Wall clock shared by spans, jobs and tasks: epoch milliseconds with
  * sub-millisecond resolution (task launch/finish times are epoch ms). */
object Clock {
  private val nano0 = System.nanoTime()
  private val ms0 = System.currentTimeMillis().toDouble
  def nowMs: Double = ms0 + (System.nanoTime() - nano0) / 1e6
}

/** In-memory spans around the benchmark's calls into each layer. A span
  * opened on the thread that submits Spark work also tags the jobs it
  * starts (the `perfbench.span` local property), so the listener can parent
  * every job to its span. Disabled tracers run the body and record nothing. */
final class Tracer(val enabled: Boolean) {
  import Tracer.Span

  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicInteger(0)
  private val current = ThreadLocal.withInitial[Integer](() => 0)

  def span[T](name: String, sc: SparkContext = null)(body: => T): T =
    if (!enabled) body
    else {
      val id = ids.incrementAndGet()
      val parent: Int = current.get
      current.set(id)
      if (sc != null) sc.setLocalProperty(Tracer.Key, id.toString)
      val start = Clock.nowMs
      try body
      finally {
        spans.add(Span(id, name, parent, start, Clock.nowMs))
        current.set(parent)
        if (sc != null) sc.setLocalProperty(Tracer.Key, if (parent == 0) null else parent.toString)
      }
    }

  def dump: Seq[Map[String, Any]] = spans.asScala.toSeq.sortBy(_.id).map(s =>
    Map("id" -> s.id, "name" -> s.name, "parent" -> s.parent,
      "start_ms" -> s.startMs, "end_ms" -> s.endMs))
}

object Tracer {
  val Key = "perfbench.span"
  final case class Span(id: Int, name: String, parent: Int, startMs: Double, endMs: Double)
}

/** Job and task records for the traced run: every job with the span that
  * started it (or the streaming batch it belongs to) and whether it is a
  * checkpoint job; every task with its interval and metrics. */
final class JobListener extends SparkListener {
  private val stageJob = TrieMap.empty[Int, Int]
  private val jobs = TrieMap.empty[Int, Map[String, Any]]
  private val jobEnds = TrieMap.empty[Int, Long]
  private val tasks = new ConcurrentLinkedQueue[Map[String, Any]]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val props = Option(e.properties)
    def prop(k: String) = props.flatMap(p => Option(p.getProperty(k)))
    e.stageIds.foreach(s => stageJob.put(s, e.jobId))
    // the job's final stage carries the action's call site, e.g.
    // "localCheckpoint at Materialize.scala:112"
    val site = e.stageInfos.sortBy(_.stageId).lastOption.map(_.name).getOrElse("")
    jobs.put(e.jobId, Map(
      "job" -> e.jobId, "start_ms" -> e.time,
      "span" -> prop(Tracer.Key).map(_.toInt).getOrElse(0),
      "batch" -> prop("streaming.sql.batchId").map(_.toLong).getOrElse(-1L),
      "site" -> site,
      "checkpoint" -> site.toLowerCase.contains("checkpoint at ")))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = jobEnds.put(e.jobId, e.time)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val i = e.taskInfo
    val m = Option(e.taskMetrics)
    tasks.add(Map(
      "job" -> stageJob.getOrElse(e.stageId, -1),
      "start_ms" -> i.launchTime, "end_ms" -> i.finishTime,
      "run_ms" -> m.map(_.executorRunTime).getOrElse(0L),
      "gc_ms" -> m.map(_.jvmGCTime).getOrElse(0L),
      "shuffle_write_bytes" -> m.map(_.shuffleWriteMetrics.bytesWritten).getOrElse(0L),
      "shuffle_read_bytes" -> m.map(x => x.shuffleReadMetrics.localBytesRead +
        x.shuffleReadMetrics.remoteBytesRead).getOrElse(0L),
      "spill_bytes" -> m.map(x => x.memoryBytesSpilled + x.diskBytesSpilled).getOrElse(0L),
      "input_bytes" -> m.map(_.inputMetrics.bytesRead).getOrElse(0L)))
  }

  def dumpJobs: Seq[Map[String, Any]] = jobs.values.toSeq.sortBy(_("job").asInstanceOf[Int])
    .map(j => j + ("end_ms" -> jobEnds.getOrElse(j("job").asInstanceOf[Int], -1L)))
  def dumpTasks: Seq[Map[String, Any]] = tasks.asScala.toSeq
}

/** Per-micro-batch progress: batch id, trigger start, row count and the
  * `durationMs` breakdown (triggerExecution, addBatch, getBatch,
  * queryPlanning, walCommit, ...). */
final class ProgressListener extends StreamingQueryListener {
  private val progress = new ConcurrentLinkedQueue[Map[String, Any]]()
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    progress.add(Map(
      "batch" -> p.batchId,
      "start_ms" -> java.time.Instant.parse(p.timestamp).toEpochMilli,
      "rows" -> p.numInputRows,
      "duration_ms" -> p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap))
  }
  def dump: Seq[Map[String, Any]] = progress.asScala.toSeq
}
