package graft

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.file.Files
import graft.sources.{FastHttpReceiver, RequestSource}
import graft.streaming.IngestPipeline

/** The reference's own end-to-end invariant, over real HTTP
  * (main_test.go:26-61): concurrent POSTs against the listener all get
  * buffered, flushed, and delivered downstream exactly once. Plus the
  * status surface: GET / health (main.go:172-178), /status thresholds
  * (main.go:228-245), /statistic counters (main.go:247-255), and the
  * edge's hardening bounds on malformed and oversized requests. */
class FastHttpReceiverSpec extends SparkSuite {

  private val client = HttpClient.newHttpClient()

  private def post(port: Int, path: String, body: String) =
    client.send(HttpRequest.newBuilder(URI.create(s"http://localhost:$port$path"))
      .POST(HttpRequest.BodyPublishers.ofString(body)).build(),
      HttpResponse.BodyHandlers.ofString())

  private def get(port: Int, path: String) =
    client.send(HttpRequest.newBuilder(URI.create(s"http://localhost:$port$path"))
      .GET().build(), HttpResponse.BodyHandlers.ofString())

  test("concurrent POSTs → drop files → pipeline delivers every row (main_test.go:26-61)") {
    val s = spark
    val dropDir = Files.createTempDirectory("drop").toString
    val rx = new FastHttpReceiver(dropDir, rollMillis = 50).start()
    val sink = TestSink()
    val q = IngestPipeline.start(
      RequestSource.fileStream(s, dropDir).select("uri", "body"),
      Files.createTempDirectory("dlq").toString,
      Files.createTempDirectory("ckpt").toString, sink, syncSec = 1)
    try {
      val tables = Seq("a", "b", "c")
      val posts = (1 to 300).map { i =>
        new Thread(() => {
          val r = post(rx.boundPort,
            s"/?query=INSERT%20INTO%20${tables(i % 3)}%20VALUES", s"($i)")
          assert(r.statusCode() == 200)
        })
      }
      posts.foreach(_.start()); posts.foreach(_.join())
      assert(rx.inRequests.get() == 300L)
      // wait until every request has rolled into a drop file, then drain
      val deadline = System.nanoTime() + 30L * 1000000000L
      def delivered: Seq[String] =
        sink.sent.flatMap(_._2.split(","))
      while (delivered.size < 300 && System.nanoTime() < deadline) {
        q.processAllAvailable(); Thread.sleep(100)
      }
      assert(delivered.sorted == (1 to 300).map(i => s"($i)").sorted)
      // uri preserved raw (RawPath + "?" + RawQuery, main.go:187)
      assert(sink.sent.map(_._1).toSet ==
        tables.map(t => s"/?query=INSERT%20INTO%20$t%20VALUES").toSet)
    } finally { q.stop(); rx.stop() }
  }

  test("GET / health, 404, empty POST 405, bad method, /statistic") {
    val dropDir = Files.createTempDirectory("drop").toString
    val rx = new FastHttpReceiver(dropDir, rollMillis = 50).start()
    try {
      val health = get(rx.boundPort, "/")
      assert(health.statusCode() == 200 && health.body() == "status = \"OK\"\r\n")
      assert(get(rx.boundPort, "/nope").statusCode() == 404)
      val empty = post(rx.boundPort, "/?query=x", "")
      assert(empty.statusCode() == 405 && empty.body() == "No data given.")
      val del = client.send(HttpRequest.newBuilder(
        URI.create(s"http://localhost:${rx.boundPort}/"))
        .DELETE().build(), HttpResponse.BodyHandlers.ofString())
      assert(del.statusCode() == 405)
      post(rx.boundPort, "/?query=INSERT%20INTO%20t%20VALUES", "(1)")
      val stat = get(rx.boundPort, "/statistic")
      assert(stat.body().contains("in requests:1"))
      // O-5 tallies (main.go:247-255 shape): this GET is in flight
      assert(stat.body().contains("current connections:1"))
      assert(stat.body().startsWith("total connections:"))
      // O-5 per-state gauges (statelistener, main.go:257-271): active =
      // this in-flight GET; new/closed count all prior exchanges
      assert(stat.body().contains("state active:1"))
      // every exchange but the in-flight /statistic GET should end up
      // closed — but closedRequests increments in the handler's finally
      // AFTER the response is flushed, so a just-answered exchange may
      // not have run its finally yet when we re-read /status. Poll until
      // the gauge settles instead of asserting one racy snapshot.
      def gauges(): (Long, Long) = {
        val b = get(rx.boundPort, "/statistic").body()
        def g(p: String) = b.linesIterator
          .find(_.startsWith(p)).get.split(":")(1).trim.toLong
        (g("state new:"), g("state closed:"))
      }
      val deadline = System.nanoTime() + 5000000000L
      var (total, closed) = gauges()
      while (total != closed + 1 && System.nanoTime() < deadline) {
        Thread.sleep(20); val g = gauges(); total = g._1; closed = g._2
      }
      assert(total == closed + 1,
        s"state gauges never settled: new=$total closed=$closed")
    } finally rx.stop()
  }

  test("queue cap: POSTs get 503 instead of unbounded-buffer acks") {
    val dropDir = Files.createTempDirectory("drop").toString
    // huge roll interval so nothing drains during the test
    val rx = new FastHttpReceiver(dropDir, rollMillis = 60000, maxQueued = 3).start()
    try {
      (1 to 3).foreach { i =>
        assert(post(rx.boundPort, "/?query=q", s"($i)").statusCode() == 200)
      }
      val overflow = post(rx.boundPort, "/?query=q", "(4)")
      assert(overflow.statusCode() == 503)
      assert(overflow.body().contains("queue full"))
    } finally rx.stop()
  }

  test("/status reflects the DLQ backlog thresholds (main.go:228-245)") {
    val s = spark
    val dropDir = Files.createTempDirectory("drop").toString
    val dlqDir = Files.createTempDirectory("dlq").toString
    val rx = new FastHttpReceiver(dropDir,
      status = () => IngestPipeline.dlqStatus(s, dlqDir)).start()
    try {
      assert(get(rx.boundPort, "/status").statusCode() == 200)
      IngestPipeline.spill(s, (1 to 450).map(i => (s"/u$i", "(1)", 1L, 1)), dlqDir)
      assert(get(rx.boundPort, "/status").statusCode() == 400)
      IngestPipeline.spill(s, (1 to 60).map(i => (s"/v$i", "(1)", 1L, 1)), dlqDir)
      assert(get(rx.boundPort, "/status").statusCode() == 500)
    } finally rx.stop()
  }

  private def raw(port: Int, request: String): String = {
    val sock = new java.net.Socket("localhost", port)
    try {
      sock.getOutputStream.write(
        request.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      sock.getOutputStream.flush()
      new String(sock.getInputStream.readAllBytes(),
        java.nio.charset.StandardCharsets.UTF_8)
    } finally sock.close()
  }

  test("edge hardening: oversized request line → 400, huge Content-Length → 413 (no allocation)") {
    val dropDir = Files.createTempDirectory("drop").toString
    val rx = new FastHttpReceiver(dropDir, rollMillis = 50).start()
    try {
      val longLine = "GET /?" + "a" * 20000 + " HTTP/1.1\r\n\r\n"
      assert(raw(rx.boundPort, longLine).startsWith("HTTP/1.1 400"))
      // 2 GB declared body, no bytes sent: must refuse BEFORE allocating
      val hugeBody = "POST / HTTP/1.1\r\nHost: x\r\n" +
        "Content-Length: 2000000000\r\n\r\n"
      assert(raw(rx.boundPort, hugeBody).startsWith("HTTP/1.1 413"))
    } finally rx.stop()
  }

  test("edge hardening: Content-Length overflow/garbage → 413/400, CR flood and header flood bounded") {
    val dropDir = Files.createTempDirectory("drop").toString
    val rx = new FastHttpReceiver(dropDir, rollMillis = 50).start()
    try {
      // int-overflowing Content-Length (~10 GB, RFC-valid) must land in
      // the same linger-protected 413 as any oversized body — the first
      // cut threw NumberFormatException into a no-linger 500
      val overflow = "POST / HTTP/1.1\r\nHost: x\r\n" +
        "Content-Length: 9999999999\r\n\r\n"
      assert(raw(rx.boundPort, overflow).startsWith("HTTP/1.1 413"))
      // non-numeric and negative are malformed → 400
      val garbage = "POST / HTTP/1.1\r\nHost: x\r\n" +
        "Content-Length: abc\r\n\r\n"
      assert(raw(rx.boundPort, garbage).startsWith("HTTP/1.1 400"))
      val negative = "POST / HTTP/1.1\r\nHost: x\r\n" +
        "Content-Length: -5\r\n\r\n"
      assert(raw(rx.boundPort, negative).startsWith("HTTP/1.1 400"))
      // a stream of bare CRs never completes a line: the byte budget must
      // refuse it (sb.length-based counting read it forever)
      val crFlood = "\r" * 20000
      assert(raw(rx.boundPort, crFlood).startsWith("HTTP/1.1 400"))
      // unbounded header COUNT is refused even though each line is small
      val headerFlood = "GET / HTTP/1.1\r\n" +
        (1 to 1000).map(i => s"X-$i: v\r\n").mkString + "\r\n"
      assert(raw(rx.boundPort, headerFlood).startsWith("HTTP/1.1 400"))
    } finally rx.stop()
  }
}
