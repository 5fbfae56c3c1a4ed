package graft.perfbench

import java.io.{BufferedInputStream, BufferedOutputStream, ByteArrayOutputStream, IOException}
import java.net.{InetSocketAddress, Socket}
import java.nio.charset.StandardCharsets.{ISO_8859_1, UTF_8}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicBoolean, AtomicInteger, AtomicLong}
import java.util.concurrent.locks.LockSupport
import scala.collection.concurrent.TrieMap
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** One persistent HTTP/1.1 connection with a blocking request/response
  * call. An I/O error or timeout returns status -1 and reconnects. */
final class HttpConn(port: Int, timeoutMs: Int = 5000) {
  private var sock: Socket = _
  private var in: BufferedInputStream = _
  private var out: BufferedOutputStream = _
  open()

  private def open(): Unit = {
    sock = new Socket()
    sock.setTcpNoDelay(true)
    sock.connect(new InetSocketAddress("127.0.0.1", port), timeoutMs)
    sock.setSoTimeout(timeoutMs)
    in = new BufferedInputStream(sock.getInputStream, 1 << 16)
    out = new BufferedOutputStream(sock.getOutputStream, 1 << 16)
  }

  def close(): Unit = try sock.close() catch { case _: IOException => () }

  private def readLine(): String = {
    val b = new ByteArrayOutputStream()
    var c = in.read()
    while (c != '\n') {
      if (c < 0) throw new IOException("connection closed")
      if (c != '\r') b.write(c)
      c = in.read()
    }
    b.toString(ISO_8859_1)
  }

  private def readN(n: Int): Array[Byte] = {
    val buf = new Array[Byte](n)
    var off = 0
    while (off < n) {
      val r = in.read(buf, off, n - off)
      if (r < 0) throw new IOException("connection closed")
      off += r
    }
    buf
  }

  def call(method: String, path: String, body: String = null): (Int, String) =
    try {
      val b = if (body == null) Array.emptyByteArray else body.getBytes(UTF_8)
      out.write((s"$method $path HTTP/1.1\r\nHost: 127.0.0.1\r\n" +
        s"Content-Type: application/json\r\nContent-Length: ${b.length}\r\n\r\n").getBytes(ISO_8859_1))
      out.write(b)
      out.flush()
      val status = readLine().split(' ')(1).toInt
      var len = 0
      var chunked = false
      var line = readLine()
      while (line.nonEmpty) {
        val i = line.indexOf(':')
        val k = line.substring(0, i).trim.toLowerCase
        val v = line.substring(i + 1).trim
        if (k == "content-length") len = v.toInt
        if (k == "transfer-encoding" && v.contains("chunked")) chunked = true
        line = readLine()
      }
      val bytes =
        if (!chunked) readN(len)
        else {
          val acc = new ByteArrayOutputStream()
          var n = Integer.parseInt(readLine().trim, 16)
          while (n > 0) { acc.write(readN(n)); readLine(); n = Integer.parseInt(readLine().trim, 16) }
          readLine()
          acc.toByteArray
        }
      (status, new String(bytes, UTF_8))
    } catch {
      case _: IOException | _: RuntimeException =>
        close()
        try open() catch { case _: IOException => () }
        (-1, "")
    }
}

/** Open-loop load against HttpApi from at most `threads` connections: the
  * estimate generator uses `threads - 1`, the writer one. Each estimate is
  * timed from its due time; the generator's own lateness (send time minus
  * the later of due time and the previous reply on that connection) is
  * recorded per request. Every estimate reply must equal the serialized
  * [[graft.engine.Api.estimateFromParams]] result for its parameters. */
final class Load(port: Int, pool: Pool, threads: Int, seed: Long, storeSize: Int) {
  private val estimators = math.max(1, threads - 1)
  private val conns = Array.fill(estimators)(new HttpConn(port))
  private val writer = new HttpConn(port, 30000)
  private val counts = TrieMap.empty[String, (AtomicLong, AtomicLong)]
  private val cyclesRun = new AtomicInteger
  val failures = new ConcurrentLinkedQueue[String]()
  private val mapper = Run.mapper

  private def count(phase: String, ok: Boolean, what: => String): Unit = {
    val (a, f) = counts.getOrElseUpdate(phase, (new AtomicLong, new AtomicLong))
    a.incrementAndGet()
    if (!ok) { f.incrementAndGet(); if (failures.size < 20) failures.add(s"$phase: $what") }
  }

  def failedByPhase: Map[String, (Long, Long)] =
    counts.map { case (k, (a, f)) => k -> (a.get, f.get) }.toMap

  def close(): Unit = { conns.foreach(_.close()); writer.close() }

  private def item(i: Int): Int = {
    val h = scala.util.hashing.MurmurHash3.mix(seed.toInt ^ (seed >>> 32).toInt, i)
    math.floorMod(scala.util.hashing.MurmurHash3.finalizeHash(h, 1), pool.size)
  }

  /** Parks until `dueNs`, or until `stop` is set and the thread unparked. */
  private def waitUntil(dueNs: Long, stop: AtomicBoolean = null): Unit = {
    var d = dueNs - System.nanoTime()
    while (d > 0 && (stop == null || !stop.get)) {
      LockSupport.parkNanos(d)
      d = dueNs - System.nanoTime()
    }
  }

  private def traced[T](t: Tracer, name: String)(body: => T): T =
    if (t == null) body else t.span(name)(body)

  /** One save -> reload -> delete -> list cycle; returns op -> ms. */
  def writeCycle(t: Tracer): Map[String, Double] = {
    val k = item(-1 - cyclesRun.getAndIncrement())
    val ms = mutable.LinkedHashMap[String, Double]()
    def op(name: String, method: String, path: String, body: String = null)(check: String => Boolean): String = {
      val t0 = System.nanoTime()
      val (status, reply) = traced(t, s"http.$name")(writer.call(method, path, body))
      ms(name) = (System.nanoTime() - t0) / 1e6
      val ok = status == 200 && (try check(reply) catch { case _: Exception => false })
      count("write", ok, s"$name status $status")
      if (ok) reply else null
    }
    val saved = op("save", "POST", "/api/save-estimation", pool.postBody(k))(
      r => mapper.readTree(r).get("success").asBoolean)
    if (saved != null) {
      val f = mapper.readTree(saved).get("filename").asText
      op("reload", "GET", s"/reload/$f")(_.contains(s"Reloaded $f"))
      op("delete", "DELETE", s"/delete-estimation/$f")(_.contains("deleted successfully"))
    }
    op("list", "GET", "/saved-estimations")(r => mapper.readTree(r).get("count").asInt == storeSize)
    ms.toMap
  }

  /** A thread running one write cycle every `WritePeriodS` from `start`
    * until `done`; each cycle's op times and lateness go to
    * `cycles`. */
  private def writer(start: Long, done: AtomicBoolean,
      cycles: ConcurrentLinkedQueue[Map[String, Double]], t: Tracer): Thread =
    new Thread(() => {
      var c = 0
      while (!done.get) {
        val due = start + c * (Load.WritePeriodS * 1e9).toLong
        waitUntil(due, done)
        if (!done.get) {
          val late = (System.nanoTime() - due) / 1e6
          cycles.add(writeCycle(t) + ("late" -> late))
        }
        c += 1
      }
    })

  /** Starts the writer and the generators, waits for the generators, then
    * stops the writer after its current cycle. */
  private def run(writerThread: Thread, gens: Seq[Thread], done: AtomicBoolean): Unit = {
    writerThread.start()
    gens.foreach(_.start())
    gens.foreach(_.join())
    done.set(true)
    LockSupport.unpark(writerThread)
    writerThread.join()
  }

  /** Warm-up: every estimate connection sends back to back for `seconds`,
    * with write cycles beside; replies are checked like a step's. Returns
    * the number of estimates sent. */
  def burst(seconds: Double): Int = {
    val start = System.nanoTime()
    val end = start + (seconds * 1e9).toLong
    val done = new AtomicBoolean(false)
    val sent = new AtomicInteger
    val gens = (0 until estimators).map { k =>
      new Thread(() => {
        var i = k
        while (System.nanoTime() < end) {
          val j = item(i)
          val (status, body) =
            if ((i & 1) == 0) conns(k).call("GET", pool.getPath(j))
            else conns(k).call("POST", "/api/estimate", pool.postBody(j))
          count("warmup_estimate", status == 200 && body == pool.expected(j), s"request $i")
          sent.incrementAndGet()
          i += estimators
        }
      })
    }
    run(writer(start, done, new ConcurrentLinkedQueue, null), gens, done)
    sent.get
  }

  /** One ladder step: `rate` estimates/s for `seconds`, alternating GET and
    * POST, with one write cycle due every `WritePeriodS`
    * seconds beside it. */
  def step(rate: Int, seconds: Double, t: Tracer): Map[String, Any] = {
    val n = math.max(1, (rate * seconds).toInt)
    val lat = new Array[Double](n)
    val lag = new Array[Double](n)
    val ok = new Array[Boolean](n)
    val periodNs = 1e9 / rate
    val start = System.nanoTime() + 20000000L
    val done = new AtomicBoolean(false)
    val cycles = new ConcurrentLinkedQueue[Map[String, Double]]()
    val writerThread = writer(start, done, cycles, t)
    val gens = (0 until estimators).map { k =>
      new Thread(() => {
        var i = k
        var prevDone = start
        while (i < n) {
          val due = start + (i * periodNs).toLong
          waitUntil(due)
          val send = System.nanoTime()
          lag(i) = (send - math.max(due, prevDone)) / 1e6
          val j = item(i)
          val (status, body) =
            if ((i & 1) == 0) traced(t, "http.estimate_get")(conns(k).call("GET", pool.getPath(j)))
            else traced(t, "http.estimate_post")(conns(k).call("POST", "/api/estimate", pool.postBody(j)))
          prevDone = System.nanoTime()
          lat(i) = (prevDone - due) / 1e6
          ok(i) = status == 200 && body == pool.expected(j)
          i += estimators
        }
      })
    }
    run(writerThread, gens, done)
    ok.zipWithIndex.foreach { case (o, i) => count(s"estimate_$rate", o, s"request $i") }
    Map("rate" -> rate, "seconds" -> seconds, "latency_ms" -> lat.toSeq, "lag_ms" -> lag.toSeq,
      "ok" -> ok.toSeq.map(if (_) 1 else 0), "writes" -> cycles.asScala.toSeq)
  }
}

object Load {
  /** A write cycle holds Spark for 0.8 to 1.5 s on four shared cores; one
    * every four seconds keeps the writes a low fixed rate beside the
    * estimates. */
  val WritePeriodS = 4.0
}
