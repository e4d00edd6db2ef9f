package graft

import org.apache.spark.sql.SparkSession
import graft.sinks.{ClickHouseSink, MetricStorage}
import graft.sources.{FastHttpReceiver, RequestSource}
import graft.streaming.{IngestPipeline, MetricFlusher}

/** Deployable twin of the reference's process (/root/reference/main.go):
  * the complete proxy assembled as one Spark application — streaming
  * request source → micro-batch concat/count → HTTP forwarder with DLQ
  * spill → periodic DLQ replay → 2 s metric flush. A proxyhouse user
  * points their producer at the drop directory (or swaps in a Kafka
  * source) and their ClickHouse URL at `--fwd`, and gets the same
  * behavior with horizontal scale.
  *
  * Flags mirror the reference's (main.go:36-49 defaults):
  *   --drop <dir>       request drop directory (JSON lines: uri, body)
  *   --fwd <url>        downstream base URL        (default http://localhost:8123)
  *   --dlq <dir>        dead-letter parquet dir    (default ./errors)
  *   --checkpoint <dir> streaming checkpoint       (default ./checkpoint)
  *   --syncsec <n>      flush interval seconds     (default 2)
  *   --resendint <n>    DLQ replay interval seconds(default 60)
  *   --graphite <host:port>  optional metric sink
  *   --listen <port>    HTTP receiver port (main.go:164-260 parity):
  *                      POST / → drop dir, GET / health, /status, /statistic
  */
object ProxyApp {
  def main(args: Array[String]): Unit = {
    val opts = args.sliding(2, 2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    val drop = opts.getOrElse("drop", "./drop")
    val fwd = opts.getOrElse("fwd", "http://localhost:8123")
    val dlq = opts.getOrElse("dlq", "./errors")
    val ckpt = opts.getOrElse("checkpoint", "./checkpoint")
    val syncSec = opts.getOrElse("syncsec", "2").toInt
    val resendInt = opts.getOrElse("resendint", "60").toInt

    val spark = SparkSession.builder()
      .appName("proxyhousespark")
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
      .withExtensions(new graft.plans.GraftExtensions)
      .getOrCreate()
    graft.model.Tables.bootstrap(spark)

    val hostname = java.net.InetAddress.getLocalHost.getHostName
    val metrics = new MetricStorage(hostname)
    val sink = new ClickHouseSink(fwd)

    // world-facing edge (O-1/O-2): HTTP → drop-dir files → fileStream
    val receiver = opts.get("listen").map { p =>
      new FastHttpReceiver(drop, p.toInt,
        status = () => IngestPipeline.dlqStatus(spark, dlq)).start()
    }

    val ingest = IngestPipeline.start(
      RequestSource.fileStream(spark, drop).select("uri", "body"),
      dlq, ckpt, sink, syncSec, Some(metrics))

    val flusher = opts.get("graphite").map { hp =>
      val Array(h, p) = hp.split(":")
      MetricFlusher.start(spark, metrics,
        MetricFlusher.graphiteTransport(h, p.toInt))
    }

    // replay loop (main.go:302-321): a plain driver-side scheduler — the
    // replayer is sequential by design (1 batch at a time, rate-limited)
    val replayer = new Thread(() => {
      while (!Thread.interrupted()) {
        Thread.sleep(resendInt * 1000L)
        // 1 send/s pacing = the reference's replay rate limit (main.go:480)
        try IngestPipeline.replayOnce(spark, dlq, sink, paceMillis = 1000L)
        catch { case e: Exception =>
          System.err.println(s"[replay] ${e.getMessage}")
        }
      }
    }, "dlq-replayer")
    replayer.setDaemon(true)
    replayer.start()

    sys.addShutdownHook {
      receiver.foreach(_.stop()); ingest.stop(); flusher.foreach(_.stop())
    }
    ingest.awaitTermination()
  }
}
