package graft.perfbench

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import graft.{Sessions, SparkEntry}
import graft.engine.{Api, Engine, HttpApi, RunStore}
import graft.kernel.Estimator
import graft.operators.{AnalyticsQueries, Tables, TextQueries, WebCurationQueries}
import graft.sources.{Sinks, Sources}
import graft.streaming.StreamingOps
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.util.concurrent.atomic.AtomicLong
import java.util.concurrent.locks.LockSupport
import org.apache.spark.perfbench.SparkBus
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{col, count, sum, when}
import scala.collection.concurrent.TrieMap
import scala.collection.mutable

/** One benchmark run of one workload in a fresh JVM. Writes the raw
  * measurements (timings, samples, fingerprints, and with tracing on the
  * spans, jobs, tasks and micro-batch progress) as one JSON document;
  * `perfbench/run.py` turns it into metrics.
  *
  * Usage: Driver <workload> <seed> <seconds> <trace 0|1> <sfDir> <workDir> <out.json> <cpus>
  */
object Driver {
  val Loops = Seq("q95_pagerank", "q101_bpe_train", "q120_doremi_iterate")
  val Workloads = Set("batch_loops", "http_serve")

  def main(args: Array[String]): Unit = {
    require(args.length == 8, s"expected 8 arguments, got ${args.length}")
    val Array(workload, seed, seconds, trace, sf, work, out, cpus) = args
    require(Workloads(workload), s"unknown workload '$workload'")
    require(Set("0", "1")(trace), s"trace must be 0 or 1, got '$trace'")
    val run = new Run(workload, seed.toLong, seconds.toInt, trace == "1", sf,
      Paths.get(work), cpus.toInt)
    val raw = try run.execute() finally run.stop()
    Files.writeString(Paths.get(out), Run.mapper.writeValueAsString(raw))
  }
}

object Run {
  val mapper = new ObjectMapper().registerModule(DefaultScalaModule)

  /** Row count and an order-insensitive 64-bit hash of a frame's rows, with
    * columns sorted by name. Doubles hash through 9 significant digits so
    * summation order does not change the fingerprint. */
  def fingerprint(df: DataFrame): (Long, Long) = {
    val sorted = df.select(df.columns.sorted.map(c => col(s"`$c`")).toIndexedSeq: _*)
    sorted.rdd.mapPartitions { rows =>
      var n = 0L
      var h = 0L
      rows.foreach { r => n += 1; h += hash64(canon(r)) }
      Iterator((n, h))
    }.collect().foldLeft((0L, 0L)) { case ((n, h), (m, g)) => (n + m, h + g) }
  }

  def hash64(s: String): Long =
    (scala.util.hashing.MurmurHash3.stringHash(s, 0x9747b28c).toLong << 32) ^
      (scala.util.hashing.MurmurHash3.stringHash(s, 0x5bd1e995).toLong & 0xffffffffL)

  def canon(v: Any): String = v match {
    case null => "null"
    case d: Double => canonDouble(d)
    case f: Float => canonDouble(f.toDouble)
    case b: java.math.BigDecimal => b.stripTrailingZeros.toPlainString
    case t: java.sql.Timestamp => s"ts${t.getTime}"
    case t: java.time.Instant => s"ts${t.toEpochMilli}"
    case d: java.sql.Date => s"d${d.toLocalDate.toEpochDay}"
    case d: java.time.LocalDate => s"d${d.toEpochDay}"
    case b: Array[Byte] => java.util.Base64.getEncoder.encodeToString(b)
    case r: Row => r.toSeq.map(canon).mkString("{", ",", "}")
    case m: scala.collection.Map[_, _] => m.toSeq.map { case (k, x) => canon(k) + ":" + canon(x) }.sorted.mkString("<", ",", ">")
    case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ",", "]")
    case x => x.toString
  }

  private def canonDouble(d: Double): String =
    if (d.isNaN || d.isInfinite) d.toString
    else if (d == 0.0) "0"
    else String.format(java.util.Locale.ROOT, "%.9g", Double.box(d))

  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
}

final class Run(workload: String, seed: Long, seconds: Int, traced: Boolean,
    sf: String, work: Path, cpus: Int) {
  import Run._

  private val out = mutable.LinkedHashMap[String, Any]()
  private val attempted = TrieMap.empty[String, AtomicLong]
  private val failed = TrieMap.empty[String, AtomicLong]
  private val failures = new java.util.concurrent.ConcurrentLinkedQueue[String]()
  private val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
  private val tracer = new Tracer(false)
  private val traceOn = new Tracer(true)
  private var spark: SparkSession = _

  /** Count one attempted operation of `phase`; false or an exception is a
    * failure (with its reason kept for the report). */
  private def attempt[T](phase: String, what: String)(body: => (Boolean, T)): Option[T] = {
    attempted.getOrElseUpdate(phase, new AtomicLong).incrementAndGet()
    val f = failed.getOrElseUpdate(phase, new AtomicLong)
    try {
      val (ok, v) = body
      if (!ok) { f.incrementAndGet(); failures.add(s"$phase $what: wrong output") }
      Some(v)
    } catch {
      case e: Exception =>
        f.incrementAndGet()
        failures.add(s"$phase $what: $e")
        None
    }
  }

  private def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  def execute(): Map[String, Any] = {
    out("workload") = workload
    val (s, buildS) = timed(Sessions.build(s"local[$cpus]", cpus, "perfbench"))
    spark = s
    out("master") = spark.sparkContext.master
    out("sessions_build_s") = buildS
    workload match {
      case "batch_loops" =>
        batch(Driver.Loops)
        if (traced) stream()
      case "http_serve" => http()
    }
    out("ops") = attempted.keys.toSeq.sorted.map(p =>
      p -> Map("attempted" -> attempted(p).get, "failed" -> failed(p).get)).toMap
    out("failures") = scala.jdk.CollectionConverters.IterableHasAsScala(failures).asScala.toSeq
    out.toMap
  }

  def stop(): Unit = if (spark != null) spark.stop()

  private def setupDone(): Unit =
    out("setup_s") = (System.currentTimeMillis() - jvmStartMs) / 1000.0

  /** Runs `measure` untraced at least once, and again while another run
    * as long as the last one still ends within `seconds`; then with
    * --trace 1 once more with spans and listeners on. */
  private def measureLoop(measure: Tracer => Map[String, Any]): Unit = {
    val t0 = System.nanoTime()
    val runs = mutable.ArrayBuffer[Map[String, Any]]()
    var last = 0.0
    do {
      val (r, s) = timed(measure(tracer))
      runs += r
      last = s
    } while ((System.nanoTime() - t0) / 1e9 + last <= seconds)
    out("runs") = runs.toSeq
    if (traced) {
      val jobs = new JobListener
      spark.sparkContext.addSparkListener(jobs)
      val r = measure(traceOn)
      SparkBus.drain(spark.sparkContext)
      spark.sparkContext.removeSparkListener(jobs)
      out("traced_run") = r
      out("spans") = traceOn.dump
      out("jobs") = jobs.dumpJobs
      out("tasks") = jobs.dumpTasks
    }
  }

  // ---- batch_loops ----

  /** Sequential passes before timing. Each pass loads about 130 new
    * generated classes, and the JIT keeps compiling for many passes: on a
    * 4-core host its compile threads took 19 s of CPU in the first pass
    * after the cold one and still 5 s in the tenth, while the pass time
    * fell from 7.5 s to 4.4 s. Four passes put the timed ones on the
    * flatter end of that curve. */
  private val WarmPasses = 4

  private def batch(entries: Seq[String]): Unit = {
    val q = SparkEntry.queries
    // the first warm-up pass is also the correctness pass: fingerprints of
    // every entry's rows
    val (_, warmS) = timed {
      out("fingerprints") = entries.flatMap(e => attempt("warmup", e) {
        val (n, h) = fingerprint(q(e)(spark, sf))
        (true, e -> Map("rows" -> n, "hash" -> java.lang.Long.toHexString(h)))
      }).toMap
      out("warmup_passes") = (2 to WarmPasses).map(_ => pass(entries, tracer, "warmup"))
    }
    out("warmup_s") = warmS
    setupDone()
    measureLoop(t => pass(entries, t, "pass"))
  }

  private val compiler = java.lang.management.ManagementFactory.getCompilationMXBean

  /** Each entry built and materialized through the noop sink, in order,
    * with the JIT's compile time (summed over its threads) during the pass. */
  private def pass(entries: Seq[String], t: Tracer, phase: String): Map[String, Any] = {
    val q = SparkEntry.queries
    val sc = spark.sparkContext
    val jit0 = compiler.getTotalCompilationTime
    val walls = entries.map { e =>
      val (_, wall) = timed(attempt(phase, e) {
        t.span(s"op.$e", sc) {
          val df = t.span("build", sc)(q(e)(spark, sf))
          t.span("materialize", sc)(noop(df))
        }
        (true, ())
      })
      e -> wall
    }
    Map("entries" -> walls.toMap, "jit_ms" -> (compiler.getTotalCompilationTime - jit0))
  }

  // ---- kernel sweep ----

  private val SweepRows = 50000L
  private val WarmSweepRows = 3000L

  private def sweepInput(start: Long, rows: Long) =
    Sources.scenarioStream(spark.range(start, start + rows).select(col("id").as("value")))

  /** Engine.sweep over seeded scenarios, full outcomes to the noop sink;
    * returns its seconds. */
  private def sweep(start: Long, t: Tracer): Double =
    timed(attempt("sweep", "noop") {
      t.span("engine.sweep", spark.sparkContext)(
        noop(Engine.sweep(sweepInput(start, SweepRows)).toDF()))
      (true, ())
    })._2

  /** The sweep's aggregate against direct kernel calls: a scenario depends
    * only on its value mod 300, so 300 direct estimates weighted by their
    * residue counts give the expected sums and reject count. */
  private def sweepCheck(start: Long): (Boolean, Map[String, Any]) = {
    val rows = WarmSweepRows
    val got = Engine.sweep(sweepInput(start, rows)).toDF().agg(
      sum(col("result.resource_estimates.total_cpus")).cast("double"),
      sum(col("result.resource_estimates.total_memory_mb")).cast("double"),
      count(when(col("error").isNotNull, 1))).head()
    val residues = Sources.scenarioStream(spark.range(start, start + 300)
      .select(col("id").as("value"))).collect()
    var cpusSum, memSum = 0.0
    var rejects = 0L
    residues.zipWithIndex.foreach { case (in, k) =>
      val r = math.floorMod(start + k, 300L)
      val first = start + math.floorMod(r - start, 300L)
      val n = if (first >= start + rows) 0L else (start + rows - 1 - first) / 300 + 1
      Engine.estimateOne(in).result match {
        case Some(res) =>
          cpusSum += n * res.resource_estimates.total_cpus
          memSum += n * res.resource_estimates.total_memory_mb.toDouble
        case None => rejects += n
      }
    }
    def near(a: Double, b: Double) = math.abs(a - b) <= 1e-9 * math.max(1.0, math.abs(b))
    val ok = near(got.getDouble(0), cpusSum) && near(got.getDouble(1), memSum) &&
      got.getLong(2) == rejects
    (ok, Map("total_cpus" -> got.getDouble(0), "total_memory_mb" -> got.getDouble(1),
      "rejects" -> got.getLong(2)))
  }

  private val ProbeCalls = 2000

  /** Median over nine loops of the mean microseconds per direct call,
    * after one warm loop. */
  private def perCallUs(call: Int => Unit): Double = {
    def loop(): Unit = { var i = 0; while (i < ProbeCalls) { call(i); i += 1 } }
    loop()
    (1 to 9).map(_ => timed(loop())._2 / ProbeCalls * 1e6).sorted.apply(4)
  }

  // ---- http_serve ----

  private val WarmBurstS = 3.0
  private val TracedStepS = 5.0

  private def http(): Unit = {
    val pool = new Pool(seed, 64)
    val store = new RunStore(spark, work.resolve("runs").toString)
    val StoreSize = 100
    val (_, prepS) = timed {
      store.saveAll((0 until StoreSize).map { i =>
        val (in, r) = pool.validated(i % pool.size)
        (in, r, java.time.LocalDateTime.of(2026, 1, 1, 0, 0).plusMinutes(i), f"$i%08x")
      })
    }
    out("prep_s") = prepS
    val api = new HttpApi(store, 0).start()
    try {
      val port = api.boundPort
      val load = new Load(port, pool, cpus, seed, StoreSize)
      val sweepStart = math.floorMod(seed * 7919L, 1000000007L)
      // warm-up: estimates back to back with writes beside, until the
      // server's request path is compiled (a paced warm-up of 3000
      // requests left the 500 rps step still speeding up), then the
      // sweep's check
      val (_, warmS) = timed {
        out("warmup_estimates") = load.burst(WarmBurstS)
        attempt("sweep_check", "aggregate")(sweepCheck(sweepStart))
      }
      out("warmup_s") = warmS
      setupDone()
      // the 500 rps step carries the reported latency, so it gets most of
      // the ladder's time; the sweeps take the rest of the run
      val headline = 500
      val ladderS = math.max(3.0, seconds * 0.7)
      val steps = Seq(250 -> 1.0, headline -> (ladderS - 3.0).max(2.0), 1000 -> 1.0, 2000 -> 1.0)
      measureLoop { t =>
        val tt = if (t.enabled) t else null
        val t0 = System.nanoTime()
        val ladder = if (t.enabled) Seq(headline -> TracedStepS) else steps
        val done = ladder.map { case (r, s) => load.step(r, s, tt) }
        val sweeps = mutable.ArrayBuffer[Double]()
        var last = 0.0
        do {
          last = sweep(sweepStart, t)
          sweeps += last
        } while (!t.enabled && (System.nanoTime() - t0) / 1e9 + last <= seconds)
        Map("steps" -> done, "sweep_s" -> sweeps.toSeq, "sweep_rows" -> SweepRows)
      }
      load.close()
      val failedByPhase = load.failedByPhase
      failedByPhase.foreach { case (phase, (a, f)) =>
        attempted.getOrElseUpdate(phase, new AtomicLong).addAndGet(a)
        failed.getOrElseUpdate(phase, new AtomicLong).addAndGet(f)
      }
      load.failures.forEach(f => failures.add(f))
      if (traced) {
        val inputs = pool.validated.map(_._1)
        out("kernel_estimate_us") = perCallUs(i => Estimator.estimate(inputs(i % inputs.size)))
        out("api_estimate_us") = perCallUs(i => Api.estimateFromParams(pool.params(i % pool.size)))
        storeProbe(store, pool)
        out("heavy_estimate_us") = timed(Api.estimateFromParams(HeavyInput))._2 * 1e6
      }
    } finally api.stop()
  }

  /** An input outside the ladder's pool whose sizing iterates for about a
    * second and a half (10M keys of 8 KB state on 8 GB nodes): one such
    * request holds a connection long enough to stall an open-loop step, so
    * it is timed on its own in the traced run. */
  private val HeavyInput = Map(
    "project_name" -> "perfbench heavy", "messages_per_second" -> "20000",
    "avg_record_size_bytes" -> "8192", "number_flink_applications" -> "4",
    "num_distinct_keys" -> "10000000", "data_skew_risk" -> "medium",
    "expected_latency_seconds" -> "0.5", "simple_statements" -> "1",
    "medium_statements" -> "5", "complex_statements" -> "3",
    "worker_node_memory_gb" -> "8.0", "worker_node_cpu_max" -> "32",
    "nb_worker_nodes" -> "20", "worker_node_type" -> "bare_metal")

  /** Direct RunStore calls, one span each, so jobs per call are counted. */
  private def storeProbe(store: RunStore, pool: Pool): Unit = {
    val jobs = new JobListener
    val sc = spark.sparkContext
    sc.addSparkListener(jobs)
    val t = new Tracer(true)
    (0 until 5).foreach { i =>
      val (in, r) = pool.validated(i)
      val f = t.span("store.save", sc)(store.save(in, r))
      t.span("store.list", sc)(store.list().collect())
      attempt("store_probe", "reload")(t.span("store.reload", sc)((store.reload(f).isRight, ())))
      attempt("store_probe", "delete")(t.span("store.delete", sc)((store.delete(f).isRight, ())))
    }
    SparkBus.drain(sc)
    sc.removeSparkListener(jobs)
    out("store_spans") = t.dump
    out("store_jobs") = jobs.dumpJobs
  }

  // ---- streaming ingest (traced batch_loops runs) ----

  private val ArrivalFiles = 40
  private val ArrivalGroups = 4
  private val DocsPerFile = 20
  private val ArrivalPeriodS = 2.5

  /** The streaming layer, measured after the traced pass of batch_loops:
    * a micro-batch is a driver loop too, paying its jobs, planning and WAL
    * commit per round. Trains the models, drops `ArrivalGroups` seeded
    * groups of document files into a watched directory with listeners
    * on, checks the sink against scoreIngestBatch over all arrivals, and
    * times scoring and the sharded sink on static frames of one batch's
    * size. */
  private def stream(): Unit = {
    val sc = spark.sparkContext
    val docs = Tables.documents(spark, sf)
    // the three models train concurrently, which overlaps their jobs. The
    // catalog's query objects are initialized first (batch() did): the
    // TextQueries and WebCurationQueries objects reference each other while
    // they initialize, so a concurrent first touch of both deadlocks.
    SparkEntry.queries
    val ((weights, lm, dsir), prepS) = timed {
      import scala.concurrent.{Await, Future}
      import scala.concurrent.ExecutionContext.Implicits.global
      import scala.concurrent.duration.Duration
      val w = Future(WebCurationQueries.classifierWeights(docs))
      val l = Future(TextQueries.bigramLmModel(docs))
      val d = Future(WebCurationQueries.dsirModel(docs))
      (Await.result(w, Duration.Inf), Await.result(l, Duration.Inf), Await.result(d, Duration.Inf))
    }
    val texts = docs.select("text").collect().map(_.getString(0))
    val rng = new java.util.Random(seed)
    // null and one-word texts ride along: the scorer passes them through
    val arrivals = Array.tabulate(ArrivalFiles, DocsPerFile) { (f, j) =>
      val text = rng.nextInt(40) match {
        case 0 => null
        case 1 => "solitary"
        case _ => texts(rng.nextInt(texts.length))
      }
      ((f + 1) * 1000L + j, text)
    }
    val session = spark
    def frame(rows: Seq[(Long, String)]) = {
      import session.implicits._
      rows.toDF("doc_id", "text")
    }
    val twin = fingerprint(StreamingOps.scoreIngestBatch(frame(arrivals.flatten.toSeq),
      weights, lm, dsir).withColumn("shard", AnalyticsQueries.shardCol))
    val jobs = new JobListener
    sc.addSparkListener(jobs)
    val run = runStream("stream", arrivals, ArrivalPeriodS, weights, lm, dsir, twin)
    sc.removeSparkListener(jobs)
    // static frames the size of one arrival group's micro-batch
    val perBatch = ArrivalFiles / ArrivalGroups * DocsPerFile
    val rows = frame(arrivals.flatten.take(perBatch).toSeq)
    val scoreMs = (1 to 3).map(_ => timed(noop(
      StreamingOps.scoreIngestBatch(rows, weights, lm, dsir)))._2 * 1000).sorted.apply(1)
    val sinkMs = (1 to 3).map(i => timed(Sinks.writeShardedBatchIdempotent(
      StreamingOps.scoreIngestBatch(rows, weights, lm, dsir), i.toLong,
      work.resolve("probe_sink").toString))._2 * 1000).sorted.apply(1)
    out("stream") = Map("prep_s" -> prepS, "run" -> run, "jobs" -> jobs.dumpJobs,
      "tasks" -> jobs.dumpTasks, "score_ms" -> scoreMs, "sink_write_ms" -> sinkMs,
      "probe_rows" -> perBatch)
  }

  private val DocSchema = "doc_id LONG, text STRING"

  private def jsonLines(docs: Array[(Long, String)]): String = docs.map { case (id, text) =>
    val m = new java.util.LinkedHashMap[String, Any]()
    m.put("doc_id", id)
    m.put("text", text)
    mapper.writeValueAsString(m)
  }.mkString("\n")

  /** Drops the files in `ArrivalGroups` equal groups, one group every
    * `periodS`, into a watched directory while scoredArrivals runs. Each
    * group is written to a staging directory and renamed into the watched
    * one, so a micro-batch sees a group whole or not at all. Waits for every
    * row to commit and returns each file's due time, the batch that
    * committed it and the per-batch progress. */
  private def runStream(name: String, arrivals: Array[Array[(Long, String)]], periodS: Double,
      weights: DataFrame, lm: TextQueries.BigramLmModel, dsir: DataFrame,
      twin: (Long, Long)): Map[String, Any] = {
    val base = work.resolve(name)
    val in = Files.createDirectories(base.resolve("in"))
    val stage = Files.createDirectories(base.resolve("stage"))
    val sink = base.resolve("sink").toString
    val progress = new ProgressListener
    spark.streams.addListener(progress)
    val reader = spark.readStream.schema(DocSchema).json(in.resolve("*").toString)
    val q = StreamingOps.scoredArrivals(reader, weights, lm, dsir, sink, base.resolve("ckpt").toString)
    val groupOf = (f: Int) => f * ArrivalGroups / arrivals.length
    val due = new Array[Double](arrivals.length)
    try {
      val t0 = System.nanoTime() + 200000000L
      arrivals.indices.groupBy(groupOf).toSeq.sortBy(_._1).foreach { case (g, files) =>
        val dir = Files.createDirectories(stage.resolve(s"group-$g"))
        files.foreach(f => Files.writeString(dir.resolve(f"arrival-$f%05d.json"), jsonLines(arrivals(f))))
        val dueNs = t0 + (g * periodS * 1e9).toLong
        var d = dueNs - System.nanoTime()
        while (d > 0) { LockSupport.parkNanos(d); d = dueNs - System.nanoTime() }
        files.foreach(f => due(f) = Clock.nowMs)
        Files.move(dir, in.resolve(s"group-$g"), StandardCopyOption.ATOMIC_MOVE)
      }
      q.processAllAvailable()
    } finally {
      q.stop()
      SparkBus.drain(spark.sparkContext)
      spark.streams.removeListener(progress)
    }
    val landed = spark.read.parquet(sink)
    val fileBatch = landed.select((col("doc_id") / 1000).cast("long").as("f"), col("batch_id"))
      .groupBy("f").agg(org.apache.spark.sql.functions.max("batch_id"))
      .collect().map(r => (r.getLong(0) - 1).toInt -> r.getAs[Number](1).longValue).toMap
    attempt("stream", name) {
      val got = fingerprint(landed.drop("batch_id"))
      (got == twin && fileBatch.size == arrivals.length, ())
    }
    Map("due_ms" -> due.toSeq, "file_batch" -> (0 until arrivals.length).map(f => fileBatch.getOrElse(f, -1L)),
      "progress" -> progress.dump, "rows" -> arrivals.map(_.length).sum)
  }
}

/** Seeded estimate inputs varying throughput, statement mix, skew and node
  * shape, so the kernel's fixpoint and greedy-packing branches vary. Only
  * inputs the API accepts are kept: no request is meant to fail. */
final class Pool(seed: Long, want: Int) {
  private val rng = new java.util.Random(seed)
  private def pick[T](xs: T*): T = xs(rng.nextInt(xs.size))
  val (params, validated) = {
    val ps = mutable.ArrayBuffer[Map[String, String]]()
    val vs = mutable.ArrayBuffer[(graft.core.EstimationInput, graft.core.EstimationResult)]()
    while (ps.size < want) {
      val vm = rng.nextBoolean()
      val p = Map(
        "project_name" -> s"perfbench ${ps.size}",
        "messages_per_second" -> pick(200, 2000, 20000, 100000).toString,
        "avg_record_size_bytes" -> pick(128, 512, 2048).toString,
        "number_flink_applications" -> pick(1, 1, 2, 4).toString,
        "num_distinct_keys" -> pick(1000L, 100000L, 1000000L).toString,
        "data_skew_risk" -> pick("low", "medium", "high"),
        "bandwidth_capacity_gbps" -> pick(1, 10, 25).toString,
        "expected_latency_seconds" -> pick(0.2, 0.5, 1.0, 5.0).toString,
        "simple_statements" -> rng.nextInt(8).toString,
        "medium_statements" -> rng.nextInt(6).toString,
        "complex_statements" -> rng.nextInt(4).toString,
        "worker_node_memory_gb" -> pick(8.0, 16.0, 64.0).toString,
        "worker_node_cpu_max" -> pick(4, 8, 32).toString,
        "nb_worker_nodes" -> pick(1, 3, 8, 20).toString,
        "worker_node_type" -> (if (vm) "VM" else "bare_metal")) ++
        (if (vm) Map("worker_node_t_size" -> pick("S", "M", "L")) else Map.empty)
      Api.estimateFromParamsWithInput(p).foreach { v => ps += p; vs += v }
    }
    (ps.toIndexedSeq, vs.toIndexedSeq)
  }
  def size: Int = params.size
  val expected: IndexedSeq[String] = validated.map(v => Run.mapper.writeValueAsString(v._2))
  val getPath: IndexedSeq[String] = params.map(p => "/api/estimate?" + p.map { case (k, v) =>
    java.net.URLEncoder.encode(k, UTF_8) + "=" + java.net.URLEncoder.encode(v, UTF_8) }.mkString("&"))
  /** The same input as a POST body (model field names: memory in MB). */
  val postBody: IndexedSeq[String] = params.map { p =>
    val typed = p.map {
      case ("worker_node_memory_gb", v) => "worker_node_memory_mb" -> (v.toDouble * 1024.0)
      case (k @ ("project_name" | "data_skew_risk" | "worker_node_type" | "worker_node_t_size"), v) => k -> v
      case (k @ "expected_latency_seconds", v) => k -> v.toDouble
      case (k @ "num_distinct_keys", v) => k -> v.toLong
      case (k, v) => k -> v.toInt
    }
    Run.mapper.writeValueAsString(typed)
  }
}
