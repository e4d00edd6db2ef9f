package perfbench

import java.io.{BufferedInputStream, BufferedOutputStream, DataOutputStream,
  FileOutputStream}
import java.net.{InetSocketAddress, Socket}
import java.nio.charset.StandardCharsets.UTF_8
import java.util.SplittableRandom
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}
import java.util.concurrent.locks.LockSupport

import com.sun.net.httpserver.{HttpExchange, HttpServer}

/** The load generator: a process of its own, apart from the system under
  * test. It hosts
  *  - a loopback ClickHouse stub that `ClickHouseSink` forwards to, which
  *    records when each row arrives and checks what arrives;
  *  - the HTTP client: one keep-alive connection to the receiver per core,
  *    driven open-loop (each request timed from the moment it was due) or
  *    closed-loop (the `burst` phase);
  *  - a control endpoint (`/ctl/...`) the system-side harness calls to run
  *    each phase, so both processes agree on when phases start and end.
  *
  * Every request is built from the seed and its index alone, so a seed
  * gives the same traffic on every run. Outputs go to `runDir` as raw
  * little-endian int64 columns for `run.py` to reduce.
  *
  * Usage: `LoadGen <runDir> <workload> <seed>`; prints
  * `STUB <port>` once the stub listens. */
object LoadGen {

  /** The body mix of a workload: `tables` URIs drawn Zipf(`zipf`);
    * `valuesShare` one-row VALUES bodies, the rest TSV/CSV bodies of
    * `minRows`..`maxRows` rows; `lake` makes every body one TSV blob led
    * by its request id. */
  final case class Mix(tables: Int, zipf: Double, valuesShare: Double,
      minRows: Int, maxRows: Int, lake: Boolean)

  def mixOf(workload: String): Mix = workload match {
    case "proxy_ingest" => Mix(24, 1.1, 0.8, 2, 50, lake = false)
    case "lake_ingest_read" => Mix(24, 1.1, 0.0, 30, 46, lake = true)
    case w => throw new IllegalArgumentException(s"no load for workload $w")
  }

  /** One generated request: its HTTP bytes and the rows it carries. */
  final case class Req(bytes: Array[Byte], uri: Int, firstRow: Long,
      rows: Int)

  def uriOf(table: Int, format: Int): String = {
    val t = f"INSERT%%20INTO%%20t$table%02d"
    format match {
      case 0 => s"/?query=$t%20VALUES"
      case 1 => s"/?query=$t%20FORMAT%20TSV"
      case _ => s"/?query=$t%20FORMAT%20CSV"
    }
  }

  /** Zipf(s) over `n` keys by inverse CDF. */
  final class Zipf(n: Int, s: Double) {
    private val cdf = {
      val w = (1 to n).map(k => 1.0 / math.pow(k, s))
      val tot = w.sum
      w.scanLeft(0.0)(_ + _).tail.map(_ / tot).toArray
    }
    def draw(u: Double): Int = {
      val i = java.util.Arrays.binarySearch(cdf, u)
      math.min(n - 1, if (i >= 0) i else -i - 1)
    }
  }

  /** The request stream of one seed. The i-th request of a run is a pure
    * function of (seed, i); row ids are dense and never reused, so the
    * stub can tell every row apart. */
  final class Traffic(seed: Long, mix: Mix) {
    private val zipf = new Zipf(mix.tables, mix.zipf)
    private val words = Array("alpha", "beta", "gamma", "delta", "eps",
      "zeta", "eta", "theta", "iota", "kappa", "lambda", "mu")
    var nextRow = 0L
    var nextReq = 0L

    def next(): Req = {
      val idx = nextReq
      nextReq += 1
      val r = new SplittableRandom(seed * 0x9E3779B97F4A7C15L + idx)
      val table = zipf.draw(r.nextDouble())
      val first = nextRow
      val sb = new java.lang.StringBuilder(256)
      val (format, rows) =
        if (mix.lake) {
          // one table row per request: the request id leads the body,
          // then short TSV lines, so bytes dominate over requests
          val n = mix.minRows + r.nextInt(mix.maxRows - mix.minRows + 1)
          sb.append(first).append('\t')
          var k = 0
          while (k < n) {
            sb.append(r.nextInt(1000000)).append('\t')
              .append(words(r.nextInt(words.length))).append('\t')
              .append(r.nextLong() & 0xffffffffffL).append('\n')
            k += 1
          }
          (1, 1)
        } else if (r.nextDouble() < mix.valuesShare) {
          sb.append('(').append(first).append(',').append(r.nextInt(1000))
            .append(",'").append(words(r.nextInt(words.length))).append("')")
          (0, 1)
        } else {
          val fmt = 1 + r.nextInt(2)
          val sep = if (fmt == 1) '\t' else ','
          val n = mix.minRows + r.nextInt(mix.maxRows - mix.minRows + 1)
          var k = 0
          while (k < n) {
            sb.append(first + k).append(sep).append(r.nextInt(1000))
              .append(sep).append(words(r.nextInt(words.length))).append('\n')
            k += 1
          }
          (fmt, n)
        }
      nextRow += rows
      val body = sb.toString.getBytes(UTF_8)
      val head = s"POST ${uriOf(table, format)} HTTP/1.1\r\n" +
        s"Host: localhost\r\nContent-Length: ${body.length}\r\n\r\n"
      val h = head.getBytes(UTF_8)
      val all = java.util.Arrays.copyOf(h, h.length + body.length)
      System.arraycopy(body, 0, all, h.length, body.length)
      Req(all, table * 3 + format, first, rows)
    }
  }

  // ---- per-request records of one phase --------------------------------------

  final class Phase(val name: String, val reqs: Array[Req]) {
    val n = reqs.length
    val due = new Array[Long](n)   // epoch µs
    val sent = new Array[Long](n)  // epoch µs
    val ack = new Array[Long](n)   // epoch µs
    val late = new Array[Long](n)  // µs the client sent after it could have
    val status = new Array[Int](n)
  }

  /** Minimal blocking HTTP/1.1 client on one keep-alive socket. */
  final class Conn(port: Int) {
    private val sock = new Socket("127.0.0.1", port)
    sock.setTcpNoDelay(true)
    private val out = new BufferedOutputStream(sock.getOutputStream, 65536)
    private val in = new BufferedInputStream(sock.getInputStream, 8192)
    private def readLine(): String = {
      val sb = new java.lang.StringBuilder(48)
      var c = in.read()
      while (c >= 0 && c != '\n') {
        if (c != '\r') sb.append(c.toChar); c = in.read()
      }
      if (c < 0 && sb.length == 0) throw new java.io.EOFException("closed")
      sb.toString
    }
    /** Send one request, return its status code. */
    def call(bytes: Array[Byte]): Int = {
      out.write(bytes); out.flush()
      val st = readLine()
      val code = if (st.length >= 12) st.substring(9, 12).toInt else -1
      var clen = 0
      var h = readLine()
      while (h.nonEmpty) {
        if (h.regionMatches(true, 0, "Content-Length:", 0, 15))
          clen = h.substring(15).trim.toInt
        h = readLine()
      }
      var left = clen
      while (left > 0) {
        if (in.read() < 0) throw new java.io.EOFException("truncated")
        left -= 1
      }
      code
    }
    def close(): Unit = try sock.close() catch { case _: Exception => () }
  }

  /** Open loop: request i is due at start + its Poisson arrival offset;
    * thread t sends requests i ≡ t (mod threads) in order. A request
    * whose connection is still busy waits, and that wait counts against
    * the system (timed from due); `late` records only the generator's
    * own delay past max(due, connection free). */
  def runOpen(p: Phase, port: Int, threads: Int, rate: Double,
      rng: SplittableRandom, atUs: Long): Unit = {
    var t = 0.0
    val offs = new Array[Long](p.n)
    var i = 0
    while (i < p.n) {
      t += -math.log(1.0 - rng.nextDouble()) / rate
      offs(i) = (t * 1e6).toLong
      i += 1
    }
    val startUs = math.max(atUs, Clock.us() + 20000)
    i = 0
    while (i < p.n) { p.due(i) = startUs + offs(i); i += 1 }
    drive(p, port, threads, closed = false)
  }

  /** Closed loop: each connection sends its next request as soon as the
    * previous one is answered, for `seconds`. Returns the requests sent. */
  def runClosed(p: Phase, port: Int, threads: Int, seconds: Double,
      atUs: Long): Int = {
    while (Clock.us() < atUs) Thread.sleep(1)
    val stopUs = Clock.us() + (seconds * 1e6).toLong
    drive(p, port, threads, closed = true, stopUs)
  }

  private def drive(p: Phase, port: Int, threads: Int, closed: Boolean,
      stopUs: Long = Long.MaxValue): Int = {
    val done = new AtomicInteger(0)
    val errors = new AtomicLong(0)
    val ts = (0 until threads).map { t =>
      new Thread(() => {
        val c = new Conn(port)
        try {
          var i = t
          var freeUs = Clock.us()
          var stop = false
          while (i < p.n && !stop) {
            if (closed) {
              p.due(i) = Clock.us()
              if (p.due(i) >= stopUs) stop = true
            } else {
              var now = Clock.us()
              while (now < p.due(i)) {
                val gap = p.due(i) - now
                if (gap > 200) LockSupport.parkNanos((gap - 120) * 1000)
                else Thread.onSpinWait()
                now = Clock.us()
              }
            }
            if (!stop) {
              val s = Clock.us()
              p.sent(i) = s
              p.late(i) = s - math.max(p.due(i), freeUs)
              p.status(i) =
                try c.call(p.reqs(i).bytes)
                catch { case _: Exception => errors.incrementAndGet(); -1 }
              freeUs = Clock.us()
              p.ack(i) = freeUs
              done.incrementAndGet()
              i += threads
            }
          }
        } finally c.close()
      }, s"loadgen-$t")
    }
    ts.foreach(_.start())
    ts.foreach(_.join())
    done.get()
  }

  // ---- the ClickHouse stub --------------------------------------------------

  /** Rows that reached the stub: arrival time and a receipt count per row
    * id, plus anything that could not be matched to a sent row. */
  final class Stub(maxRows: Int) {
    val arrival = new Array[Long](maxRows)
    val count = new Array[Byte](maxRows)
    val rowUri = new Array[Short](maxRows)
    val delivered = new AtomicLong(0) // distinct rows that arrived
    val posts = new AtomicLong(0)
    val bad = new AtomicLong(0) // unparseable rows, unknown ids, wrong uri
    val formatRows = Array.fill(3)(new AtomicLong(0))

    def expect(r: Req): Unit = {
      var k = 0
      while (k < r.rows) { rowUri((r.firstRow + k).toInt) = r.uri.toShort; k += 1 }
    }

    private def note(id: Long, uri: Int, now: Long): Unit = synchronized {
      if (id < 0 || id >= maxRows || rowUri(id.toInt) != uri) bad.incrementAndGet()
      else {
        val i = id.toInt
        if (count(i) == 0) { arrival(i) = now; delivered.incrementAndGet() }
        if (count(i) < 127) count(i) = (count(i) + 1).toByte
      }
    }

    /** Parse one forwarded batch: a Values body is `(id,..),(id,..)`, a
      * TSV/CSV body is newline-terminated lines whose first field is the
      * row id. */
    def receive(query: String, body: String): Unit = {
      posts.incrementAndGet()
      val now = Clock.us()
      val m = """INSERT INTO t(\d+) (VALUES|FORMAT TSV|FORMAT CSV)""".r
        .findFirstMatchIn(query)
      m match {
        case None => bad.incrementAndGet()
        case Some(mm) =>
          val table = mm.group(1).toInt
          val fmt = mm.group(2) match {
            case "VALUES" => 0; case "FORMAT TSV" => 1; case _ => 2
          }
          val uri = table * 3 + fmt
          if (fmt == 0) {
            var i = body.indexOf('(')
            while (i >= 0) {
              val e = body.indexOf(',', i)
              note(body.substring(i + 1, e).toLong, uri, now)
              formatRows(0).incrementAndGet()
              i = body.indexOf("),(", e)
              if (i >= 0) i += 2
            }
          } else {
            val sep = if (fmt == 1) '\t' else ','
            var i = 0
            while (i < body.length) {
              val nl = body.indexOf('\n', i)
              val end = if (nl < 0) body.length else nl
              if (end > i) {
                note(body.substring(i, body.indexOf(sep, i)).toLong, uri, now)
                formatRows(fmt).incrementAndGet()
              }
              i = end + 1
            }
          }
      }
    }
  }

  // ---- outputs ---------------------------------------------------------------

  def writeLongs(path: String, cols: Seq[Array[Long]]): Unit = {
    val out = new DataOutputStream(new java.io.BufferedOutputStream(
      new FileOutputStream(path), 1 << 16))
    try {
      val n = if (cols.isEmpty) 0 else cols.head.length
      val buf = java.nio.ByteBuffer.allocate(8 * cols.size)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      var i = 0
      while (i < n) {
        buf.clear()
        cols.foreach(c => buf.putLong(c(i)))
        out.write(buf.array())
        i += 1
      }
    } finally out.close()
  }

  def main(args: Array[String]): Unit = {
    val Array(runDir, workload, seedS) = args
    val seed = seedS.toLong
    val threads = Runtime.getRuntime.availableProcessors()
    // rate is set per phase by the caller; the mix is fixed by workload
    val traffic = new Traffic(seed, mixOf(workload))
    val maxRows = 8000000
    val stub = new Stub(maxRows)
    val phases = scala.collection.mutable.ArrayBuffer.empty[Phase]
    val finished = new java.util.concurrent.CountDownLatch(1)
    val rng = new SplittableRandom(seed ^ 0x5DEECE66DL)

    val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 64)
    server.setExecutor(java.util.concurrent.Executors.newFixedThreadPool(4))
    def reply(ex: HttpExchange, code: Int, body: String): Unit = {
      val b = body.getBytes(UTF_8)
      ex.sendResponseHeaders(code, if (b.isEmpty) -1 else b.length.toLong)
      if (b.nonEmpty) ex.getResponseBody.write(b)
      ex.close()
    }
    server.createContext("/", (ex: HttpExchange) => {
      val body = new String(ex.getRequestBody.readAllBytes(), UTF_8)
      val q = Option(ex.getRequestURI.getQuery).getOrElse("")
      stub.receive(q, body)
      reply(ex, 200, "")
    })
    server.createContext("/ctl/", (ex: HttpExchange) => {
      val params = Option(ex.getRequestURI.getQuery).getOrElse("")
        .split('&').filter(_.contains('=')).map { kv =>
          val Array(k, v) = kv.split("=", 2); k -> v
        }.toMap
      try ex.getRequestURI.getPath match {
        case "/ctl/phase" =>
          // open loop: `n` requests at `rate`/s; closed loop: as many as
          // `seconds` allows (pre-built up to `n`)
          val n = params("n").toInt
          val reqs = Array.fill(n)(traffic.next())
          reqs.foreach(stub.expect)
          val p = new Phase(params("name"), reqs)
          val port = params("port").toInt
          val at = params.get("at").map(_.toLong).getOrElse(0L)
          val sent =
            if (params.contains("rate")) {
              runOpen(p, port, threads, params("rate").toDouble, rng, at)
              n
            } else runClosed(p, port, threads, params("seconds").toDouble, at)
          phases.synchronized { phases += p }
          // a closed-loop phase leaves a tail of each connection's share
          // unsent: count what was sent, wherever it sits in the array
          val ok = p.reqs.indices.filter(i => p.sent(i) != 0 && p.status(i) == 200)
          val acked = ok.size
          val rows = ok.map(i => p.reqs(i).rows.toLong).sum
          reply(ex, 200, s"""{"sent":$sent,"acked":$acked,"rows":$rows}""")
        case "/ctl/delivered" =>
          reply(ex, 200, s"""{"rows":${stub.delivered.get()},""" +
            s""""bad":${stub.bad.get()}}""")
        case "/ctl/finish" =>
          phases.synchronized {
            phases.foreach { p =>
              val k = p.reqs.indices.filter(i => p.sent(i) != 0)
              def col(f: Int => Long) = k.map(f).toArray
              writeLongs(s"$runDir/req_${p.name}.bin", Seq(
                col(i => p.due(i)), col(i => p.sent(i)), col(i => p.ack(i)),
                col(i => p.late(i)), col(i => p.status(i).toLong),
                col(i => p.reqs(i).firstRow), col(i => p.reqs(i).rows.toLong),
                col(i => p.reqs(i).uri.toLong)))
            }
          }
          val nRows = traffic.nextRow.toInt
          writeLongs(s"$runDir/stub_rows.bin", Seq(
            java.util.Arrays.copyOf(stub.arrival, nRows),
            stub.count.take(nRows).map(_.toLong)))
          val js = s"""{"posts":${stub.posts.get()},"bad":${stub.bad.get()},""" +
            s""""delivered":${stub.delivered.get()},"rows_sent":$nRows,""" +
            s""""format_rows":[${stub.formatRows.map(_.get()).mkString(",")}]}"""
          java.nio.file.Files.write(
            java.nio.file.Paths.get(s"$runDir/stub.json"), js.getBytes(UTF_8))
          reply(ex, 200, js)
          finished.countDown()
        case other => reply(ex, 404, other)
      } catch {
        case e: Exception =>
          e.printStackTrace()
          reply(ex, 500, String.valueOf(e))
      }
    })
    server.start()
    println(s"STUB ${server.getAddress.getPort}")
    System.out.flush()
    finished.await()
    server.stop(0)
    sys.exit(0)
  }
}
