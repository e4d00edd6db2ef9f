package graft.sources

import java.io.{BufferedInputStream, BufferedOutputStream, InputStream}
import java.net.{InetSocketAddress, ServerSocket, Socket, SocketException}
import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.Executors
import java.util.concurrent.atomic.AtomicLong

/** The HTTP edge of the drop-directory ingest source — the piece that
  * makes [[graft.ProxyApp]] a drop-in for the reference's listener
  * (main.go:164-260), status for status:
  *
  *  - `POST /`  (dorequest, main.go:180-226): body + raw URI are queued and
  *    rolled by [[DropSpool]] into JSON-lines files in the drop directory,
  *    which [[RequestSource.fileStream]] tails. Empty body → 405 "No data
  *    given.", non-root path → 404, other methods → 405.
  *  - `GET /`   (main.go:172-178): health — `status = "OK"`.
  *  - `GET /status` (showstatus, main.go:228-245): DLQ backlog mapped to
  *    200/400/500 via a caller-supplied status function (wire to
  *    `IngestPipeline.dlqStatus`).
  *  - `GET /statistic` (showstatistic, main.go:247-255): connection and
  *    per-state tallies, in/out request counters.
  *
  * A lean blocking-socket HTTP/1.1 server rather than the JDK
  * `com.sun.net.httpserver`, which topped out around half the reference's
  * published ApacheBench c=10 rate on this workload — per-exchange
  * allocation and header objects, not I/O, dominate at ~200-byte
  * requests. This edge parses only what the routes need (request line,
  * Content-Length, Connection) straight off the stream, answers from
  * precomputed response bytes, and runs one blocking thread per
  * connection (keep-alive workloads hold few connections; ApacheBench
  * `-c 10` is exactly 10). Measured with `graft.IngestBench 100000 10`:
  * 114.4k req/s accepted (with line/body hardening bounds) vs the JDK
  * server's 84.4k and the reference's published 49.3k (BENCH_STREAM.json
  * / BENCH_NOTES round 9).
  *
  * Protocol scope, deliberately minimal like the reference (which also
  * answers only origin-form requests from trusted producers): HTTP/1.1
  * keep-alive + HTTP/1.0 close-by-default, Content-Length bodies only
  * (chunked POSTs get 411 — the reference's producers, and ours, always
  * send Content-Length), no TLS (the reference terminates plaintext
  * too). Not a Spark component: Spark's unit of ingest is a file, and
  * ingest metrics stay with the pipeline (which sees every request). */
final class FastHttpReceiver(dropDir: String, port: Int = 0,
    rollMillis: Long = 200L, status: () => Int = () => 200,
    maxQueued: Int = 100000) {

  val inRequests = new AtomicLong(0)
  val totalRequests = new AtomicLong(0)   // state "new": requests parsed
  val currentRequests = new AtomicLong(0) // state "active": in-flight
  val closedRequests = new AtomicLong(0)  // state "closed": completed
  private val spool = new DropSpool(dropDir, rollMillis, maxQueued)
  private val server = new ServerSocket()
  @volatile private var running = true
  // daemon threads: the receiver must never keep a JVM alive on its own
  private val pool = Executors.newCachedThreadPool(r => {
    val t = new Thread(r, "fast-http-conn"); t.setDaemon(true); t
  })

  def outFiles: AtomicLong = spool.outFiles

  private def jsonEscape(s: String): String = graft.JsonUtil.escape(s)

  // ---- response writing -----------------------------------------------------

  private val ServerHeader = "Server: proxyhousespark\r\n"

  private def reason(code: Int): String = code match {
    case 200 => "OK"
    case 400 => "Bad Request"
    case 404 => "Not Found"
    case 405 => "Method Not Allowed"
    case 411 => "Length Required"
    case 413 => "Payload Too Large"
    case 500 => "Internal Server Error"
    case 503 => "Service Unavailable"
    case _ => "Status"
  }

  // edge-hardening bounds: a request/header line or declared body length
  // past these is refused, not buffered — `new Array[Byte](clen)` on an
  // attacker-controlled Content-Length would allocate before reading a
  // single body byte (the body cap is deliberately generous — the
  // reference reads bodies unbounded)
  private val MaxLineBytes = 16384
  private val MaxBodyBytes = 256 << 20
  // bound on header COUNT too: MaxLineBytes alone still admits an
  // unbounded stream of small header lines on one request
  private val MaxHeaderLines = 256

  private def respond(out: BufferedOutputStream, code: Int, body: String,
      close: Boolean): Unit = {
    val b = body.getBytes(UTF_8)
    out.write((s"HTTP/1.1 $code ${reason(code)}\r\n" + ServerHeader +
      s"Content-Length: ${b.length}\r\n" +
      (if (close) "Connection: close\r\n" else "") +
      "\r\n").getBytes(UTF_8))
    if (b.nonEmpty) out.write(b)
    out.flush()
  }

  // the 200-empty ACK is the hot path: one precomputed byte array
  private val AckBytes =
    ("HTTP/1.1 200 OK\r\n" + ServerHeader + "Content-Length: 0\r\n\r\n")
      .getBytes(UTF_8)

  // ---- request parsing ------------------------------------------------------

  /** One header/request line, bytes-to-CRLF (tolerates bare LF). Null on
    * EOF before any byte; throws past MaxLineBytes. The budget counts
    * every CONSUMED byte, not just appended chars — counting sb.length
    * let a stream of bare '\r' bytes (never appended) evade the limit
    * and spin the serve thread on unbounded input. */
  private def readLine(in: InputStream): String = {
    val sb = new java.lang.StringBuilder(64)
    var nread = 0
    var c = in.read()
    if (c < 0) return null
    while (c >= 0 && c != '\n') {
      nread += 1
      if (nread > MaxLineBytes)
        throw new LineTooLong
      if (c != '\r') sb.append(c.toChar)
      c = in.read()
    }
    sb.toString
  }

  private final class LineTooLong extends Exception

  private def readBody(in: InputStream, len: Int): String = {
    val buf = new Array[Byte](len)
    var off = 0
    while (off < len) {
      val n = in.read(buf, off, len - off)
      if (n < 0) throw new java.io.EOFException("body truncated")
      off += n
    }
    new String(buf, UTF_8)
  }

  /** Serve one connection: loop requests until close/EOF. */
  private def serve(sock: Socket): Unit = {
    sock.setTcpNoDelay(true)
    val in = new BufferedInputStream(sock.getInputStream, 16384)
    val out = new BufferedOutputStream(sock.getOutputStream, 16384)
    // set when we refuse a request whose bytes we did NOT fully read
    // (oversized line, huge/chunked body): closing with unread input makes
    // the kernel RST and may discard the refusal response in flight, so
    // the finally block does a bounded lingering drain first
    var linger = false
    try {
      var open = true
      while (open && running) {
        val reqLine = readLine(in)
        if (reqLine == null || reqLine.isEmpty) { open = false }
        else {
          val sp1 = reqLine.indexOf(' ')
          val sp2 = reqLine.indexOf(' ', sp1 + 1)
          if (sp1 < 0 || sp2 < 0) {
            respond(out, 400, "malformed request line", close = true)
            linger = true
            open = false
          } else {
            val method = reqLine.substring(0, sp1)
            val target = reqLine.substring(sp1 + 1, sp2) // origin-form, raw
            val http10 = reqLine.endsWith("HTTP/1.0")
            totalRequests.incrementAndGet()
            currentRequests.incrementAndGet()
            try {
              // headers: only Content-Length / Connection / Transfer-Encoding
              // matter to the routes; everything else is skipped unparsed
              // contentLen: -1 = absent, -2 = malformed (non-numeric or
              // negative → 400); values past Int.MaxValue clamp so they
              // fall into the same > MaxBodyBytes refusal (413 + linger)
              // instead of a NumberFormatException'd 500 with no linger
              var contentLen = -1
              var connClose = http10
              var chunked = false
              var nHeaders = 0
              var h = readLine(in)
              while (h != null && h.nonEmpty) {
                nHeaders += 1
                if (nHeaders > MaxHeaderLines)
                  throw new LineTooLong // same refuse+linger path
                val ci = h.indexOf(':')
                if (ci > 0) {
                  val name = h.substring(0, ci)
                  if (name.equalsIgnoreCase("Content-Length")) {
                    val v = h.substring(ci + 1).trim
                    contentLen =
                      try {
                        val l = v.toLong
                        if (l < 0) -2
                        else if (l > Int.MaxValue) Int.MaxValue
                        else l.toInt
                      } catch { case _: NumberFormatException => -2 }
                  } else if (name.equalsIgnoreCase("Connection")) {
                    val v = h.substring(ci + 1).trim
                    connClose = v.equalsIgnoreCase("close") ||
                      (http10 && !v.equalsIgnoreCase("keep-alive"))
                  } else if (name.equalsIgnoreCase("Transfer-Encoding"))
                    chunked = h.substring(ci + 1).trim
                      .equalsIgnoreCase("chunked")
                }
                h = readLine(in)
              }
              if (h == null) { open = false }
              else {
                val qi = target.indexOf('?')
                val path = if (qi < 0) target else target.substring(0, qi)
                // route order of the reference: /status and /statistic
                // answer ANY method, then non-root 404, then method
                // dispatch on "/"
                if (chunked) {
                  // can't skip an unread chunked body safely on keep-alive
                  respond(out, 411, "Content-Length required.", close = true)
                  linger = true
                  open = false
                } else if (contentLen == -2) {
                  respond(out, 400, "Malformed Content-Length.", close = true)
                  linger = true
                  open = false
                } else if (contentLen > MaxBodyBytes) {
                  respond(out, 413, "Body too large.", close = true)
                  linger = true
                  open = false
                } else {
                  val body =
                    if (contentLen > 0) readBody(in, contentLen) else ""
                  if (path == "/status") respond(out, status(), "status:OK",
                    connClose)
                  else if (path == "/statistic") respond(out, 200,
                    s"total connections:${totalRequests.get()}\r\n" +
                      s"current connections:${currentRequests.get()}\r\n" +
                      s"state new:${totalRequests.get()}\r\n" +
                      s"state active:${currentRequests.get()}\r\n" +
                      s"state closed:${closedRequests.get()}\r\n" +
                      s"in requests:${inRequests.get()}\r\n" +
                      s"out files:${outFiles.get()}\r\n", connClose)
                  else if (path != "/") respond(out, 404, "404 not found.",
                    connClose)
                  else method match {
                    case "GET" =>
                      respond(out, 200, "status = \"OK\"\r\n", connClose)
                    case "POST" =>
                      if (body.isEmpty)
                        respond(out, 405, "No data given.", connClose)
                      else {
                        val line = s"""{"uri": "${jsonEscape(target)}", """ +
                          s""""body": "${jsonEscape(body)}"}"""
                        if (spool.offer(line)) {
                          inRequests.incrementAndGet()
                          out.write(AckBytes); out.flush()
                        } else respond(out, 503,
                          "Ingest queue full — drop directory stalled.",
                          connClose)
                      }
                    case _ => respond(out, 405,
                      "Sorry, only GET and POST methods are supported.",
                      connClose)
                  }
                  if (connClose) open = false
                }
              }
            } finally {
              currentRequests.decrementAndGet()
              closedRequests.incrementAndGet()
            }
          }
        }
      }
    } catch {
      case _: SocketException => () // peer reset / server stop
      case _: java.io.EOFException => ()
      case _: LineTooLong =>
        linger = true
        try respond(out, 400, "Request line or header too long.",
          close = true)
        catch { case _: Exception => () }
      case e: Exception =>
        try respond(out, 500, String.valueOf(e.getMessage), close = true)
        catch { case _: Exception => () }
    } finally {
      if (linger) {
        // half-close, then drain (bounded) until the peer sees our FIN and
        // closes — the refusal response survives instead of being RST away
        try {
          sock.shutdownOutput()
          sock.setSoTimeout(500)
          val buf = new Array[Byte](8192)
          var total = 0
          var n = in.read(buf)
          while (n > 0 && total < (64 << 10)) { total += n; n = in.read(buf) }
        } catch { case _: Exception => () }
      }
      try sock.close() catch { case _: Exception => () }
    }
  }

  private val acceptor = new Thread(() => {
    while (running) {
      try {
        val sock = server.accept()
        pool.execute(() => serve(sock))
      } catch {
        case _: SocketException => () // closed in stop()
        case e: Exception =>
          if (running)
            System.err.println(s"[fast-receiver] accept failed: ${e.getMessage}")
      }
    }
  }, "fast-http-acceptor")

  def start(): FastHttpReceiver = {
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dropDir))
    server.bind(new InetSocketAddress(port), 1024)
    acceptor.setDaemon(true)
    acceptor.start()
    spool.start()
    this
  }

  def boundPort: Int = server.getLocalPort

  def stop(): Unit = {
    running = false
    try server.close() catch { case _: Exception => () }
    pool.shutdown()
    acceptor.join(2000)
    spool.stop()
  }
}
