package graft

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.sql.SparkSession

import graft.sources.{FastHttpReceiver, RequestSource}
import graft.streaming.IngestPipeline

/** Sustained HTTP-ingest throughput — the same measurement the reference
  * publishes as its headline numbers (BASELINE.md):
  *
  *  - ApacheBench `-c 10 -k`, 100,000 tiny POSTs → 49,328 req/s
  *    (reference profiling.md:31-48);
  *  - in-process `lotsa` 10k ops / 8 threads → 71,241 ops/s
  *    (reference README.md:120-129).
  *
  * This main drives the REAL edge-to-sink path: N keep-alive HTTP clients
  * POST `(<i>)` bodies against 3 rotating tables (the reference's
  * bench_test.go:13-37 workload shape) into [[FastHttpReceiver]] (one
  * thread per connection), the drop-directory file stream feeds
  * [[IngestPipeline]] (2 s micro-batches — the reference's
  * `syncsec` default), and a counting sink acks every aggregated group.
  * Two numbers come out:
  *
  *  - `http_reqs_per_s`: accepted-and-ACKed request rate over the timed
  *    posting window (the AB-comparable number);
  *  - `e2e_rows_per_s`: first timed POST → every row delivered through
  *    the sink, i.e. including micro-batch aggregation and delivery —
  *    a number the reference does not publish (its bench ACKs into the
  *    buffer; flush happens later, unmeasured).
  *
  * A JIT/codegen warmup phase (posts + full drain) runs untimed first;
  * the counting sink uses a JVM-global counter, which is exact in
  * local-mode (sends execute in this JVM) — cluster instrumentation
  * would use the pipeline's observe() metrics instead.
  *
  * Usage: `sbt "runMain graft.IngestBench [nReqs] [concurrency] [sink]"`
  * with sink `count` (default) or `lake` — prints one JSON line on stdout
  * (saved as BENCH_STREAM.json).
  */
object IngestBench {

  private val sunk = new AtomicLong(0) // rows delivered through the sink

  private class CountSink extends IngestPipeline.BatchSink {
    def send(uri: String, body: String, rows: Long): Boolean = {
      sunk.addAndGet(rows); true
    }
  }

  def main(args: Array[String]): Unit = {
    val nReqs = args.headOption.map(_.toInt).getOrElse(100000)
    val conc = args.lift(1).map(_.toInt).getOrElse(10)
    // sink `count` = the reference-comparable ACK sink; `lake` = the
    // full proxy-on-lakehouse path (round-13 verdict task 7): the edge
    // stream lands in a commit-log TABLE through the exactly-once
    // streaming sink, so "delivered" means a committed, queryable
    // version — the number also reports the commit cadence
    val sinkMode = args.lift(2).getOrElse("count")
    val warmupReqs = math.min(5000, nReqs / 2)

    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .withExtensions(new graft.plans.GraftExtensions)
      .getOrCreate()
    graft.model.Tables.bootstrap(spark)
    spark.sparkContext.setLogLevel("WARN")

    val dropDir = Files.createTempDirectory("ingestbench-drop").toString
    val dlqDir = Files.createTempDirectory("ingestbench-dlq").toString
    val ckptDir = Files.createTempDirectory("ingestbench-ckpt").toString
    // queue cap above nReqs: the bench measures the pipeline, not the
    // receiver's 503 backpressure (that path has its own spec)
    val rx = new FastHttpReceiver(dropDir, rollMillis = 100,
      maxQueued = nReqs + warmupReqs).start()
    val lakeTable = Files.createTempDirectory("ingestbench-lake")
      .toString + "/t"
    val q = sinkMode match {
      case "lake" =>
        RequestSource.fileStream(spark, dropDir).select("uri", "body")
          .writeStream.format("graft-commitlog")
          .option("path", lakeTable)
          .option("checkpointLocation", ckptDir)
          .trigger(org.apache.spark.sql.streaming.Trigger
            .ProcessingTime("2 seconds"))
          .start()
      case _ => IngestPipeline.start(
        RequestSource.fileStream(spark, dropDir).select("uri", "body"),
        dlqDir, ckptDir, new CountSink, syncSec = 2)
    }

    val tables = Seq("a", "b", "c")
    val port = rx.boundPort

    /** `count` POSTs spread over `conc` threads, one raw keep-alive socket
      * per thread (= AB's `-c N -k`: N persistent connections, lean
      * byte-level client — `java.net.http.HttpClient` adds hundreds of µs
      * of future/executor machinery per synchronous send and measures the
      * client, not the server). Returns the posting wall-clock in seconds;
      * asserts every request was ACKed 200. */
    def drive(count: Int): Double = {
      val failed = new AtomicLong(0)
      val idGen = new AtomicLong(0)
      val t0 = System.nanoTime()
      val threads = (0 until conc).map { t =>
        new Thread(() => {
          val sock = new java.net.Socket("localhost", port)
          sock.setTcpNoDelay(true)
          val out = new java.io.BufferedOutputStream(sock.getOutputStream, 8192)
          val in = new java.io.BufferedInputStream(sock.getInputStream, 8192)
          def readLine(): String = {
            val sb = new java.lang.StringBuilder(48)
            var c = in.read()
            while (c >= 0 && c != '\n') {
              if (c != '\r') sb.append(c.toChar); c = in.read()
            }
            sb.toString
          }
          try {
            var i = t
            while (i < count) {
              val id = idGen.incrementAndGet()
              val body = s"($id)"
              out.write((s"POST /?query=INSERT%20INTO%20" +
                s"${tables((id % 3).toInt)}%20VALUES HTTP/1.1\r\n" +
                s"Host: localhost:$port\r\n" +
                s"Content-Length: ${body.length}\r\n\r\n" + body)
                .getBytes(java.nio.charset.StandardCharsets.UTF_8))
              out.flush()
              // response: status line, headers (find Content-Length), body
              val statusLine = readLine()
              if (!statusLine.startsWith("HTTP/1.1 200"))
                failed.incrementAndGet()
              var clen = 0
              var h = readLine()
              while (h.nonEmpty) {
                if (h.regionMatches(true, 0, "Content-Length:", 0, 15))
                  clen = h.substring(15).trim.toInt
                h = readLine()
              }
              var skip = clen
              while (skip > 0) {
                val n = in.skip(skip).toInt
                if (n == 0) { // skip() can't block: distinguish EOF from stall
                  if (in.read() < 0)
                    throw new java.io.EOFException("response truncated")
                  skip -= 1
                } else skip -= n
              }
              i += conc
            }
          } finally sock.close()
        }, s"ingest-bench-client-$t")
      }
      threads.foreach(_.start())
      threads.foreach(_.join())
      val wall = (System.nanoTime() - t0) / 1e9
      require(failed.get() == 0, s"${failed.get()} POSTs not ACKed 200")
      wall
    }

    /** Poll until the sink has delivered `target` total rows — ACKed
      * through the counting sink, or COMMITTED AND QUERYABLE in the
      * commit-log table (lake mode reads the table back like any
      * consumer would). Returns the drain completion instant (nanos). */
    def delivered0(): Long = sinkMode match {
      case "lake" =>
        if (graft.streaming.CommitLogIngest.latestVersion(lakeTable) < 0) 0L
        else graft.streaming.CommitLogIngest.snapshot(spark, lakeTable)
          .count()
      case _ => sunk.get()
    }
    def drainUntil(target: Long): Long = {
      val deadline = System.nanoTime() + 120L * 1000000000L
      // one delivered0() per iteration: in lake mode each probe is a
      // snapshot count (a Spark job on the session the sink commits
      // through) — probing twice per 50 ms poll would tax the measured
      // e2e window with harness overhead
      var d = delivered0()
      while (d < target && System.nanoTime() < deadline) {
        q.processAllAvailable()
        d = delivered0()
        if (d < target) Thread.sleep(50)
      }
      require(d == target,
        s"drain incomplete: $d of $target rows delivered")
      System.nanoTime()
    }

    try {
      drive(warmupReqs) // untimed: JIT + codegen + connection setup
      var delivered = warmupReqs.toLong
      drainUntil(delivered)

      // three timed passes, best wall kept — the suite-wide min-of-N
      // discipline (single-pass throughput on this box swings ±40%)
      val passes = (1 to 3).map { _ =>
        val t0 = System.nanoTime()
        val postWall = drive(nReqs)
        delivered += nReqs
        val e2eWall = (drainUntil(delivered) - t0) / 1e9
        (postWall, e2eWall)
      }
      val postWall = passes.map(_._1).min
      val e2eWall = passes.map(_._2).min

      val httpRate = nReqs / postWall
      val e2eRate = nReqs / e2eWall
      // AB's "time per request (mean, across all concurrent)"
      val msPerReq = postWall * 1000.0 / nReqs
      val lakeExtra = sinkMode match {
        case "lake" =>
          // commit cadence: one exactly-once version per non-empty 2 s
          // micro-batch — `versions` over the whole run (warmup + 3
          // timed passes) shows the table advanced continuously rather
          // than absorbing the bench as one giant commit
          val versions =
            graft.streaming.CommitLogIngest.latestVersion(lakeTable) + 1
          s""","sink":"commitlog","versions":$versions"""
        case _ => ""
      }
      println(
        f"""{"metric":"ingest_http","edge":"fast","reqs":$nReqs,""" +
          f""""concurrency":$conc,""" +
          f""""http_reqs_per_s":$httpRate%.1f,"ms_per_req":$msPerReq%.4f,""" +
          f""""post_wall_s":$postWall%.3f,"e2e_wall_s":$e2eWall%.3f,""" +
          f""""e2e_rows_per_s":$e2eRate%.1f,"passes":3,"sync_sec":2""" +
          lakeExtra + "}")
    } finally {
      q.stop(); rx.stop(); spark.stop()
    }
  }
}
