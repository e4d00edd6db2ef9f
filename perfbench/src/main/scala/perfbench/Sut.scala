package perfbench

import java.lang.management.ManagementFactory
import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.time.Duration

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.SparkEntry
import graft.sinks.{ClickHouseSink, MetricStorage}
import graft.sources.{FastHttpReceiver, RequestSource}
import graft.streaming.{CommitLogIngest, IngestPipeline}

/** The system-side harness: one JVM that runs the system under test the
  * way a deployment does (`local[nproc]`, shuffle partitions = nproc),
  * through its public entry points only, and times it from outside:
  *
  *  - `proxy_ingest`: `FastHttpReceiver` → `RequestSource.fileStream` →
  *    `IngestPipeline.start` → `ClickHouseSink`, wired as `ProxyApp`
  *    wires them, forwarding to the load generator's stub;
  *  - `lake_ingest_read`: the same edge and spool into the `graft-commitlog`
  *    streaming sink, with a reader thread running reads due on a fixed
  *    schedule beside it;
  *  - `query_suite`: a closed-loop client over `SparkEntry.queries`.
  *
  * Phases are driven through the load generator's control endpoint, so
  * the traffic itself comes only from the other process. With `--trace 1`
  * the measured window is split in an untraced and a traced half: the
  * listeners and the timing sink come on only at the traced half, which
  * feeds the per-layer numbers and the spans.
  *
  * Writes `sut.json` (and `spans.jsonl`, `visible.bin`) into the run
  * directory; `run.py` reduces them with the load generator's records. */
object Sut extends AdaptiveSparkPlanHelper {

  private val errors = new java.util.concurrent.ConcurrentLinkedQueue[String]()
  private def fail(what: String): Unit = {
    System.err.println(s"[perfbench] $what")
    errors.add(what)
  }

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString
  private def jstr(s: String): String = "\"" + graft.JsonUtil.escape(s) + "\""
  private def jobj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => jstr(k) + ":" + v }.mkString("{", ",", "}")

  private def pct(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      s(math.min(s.size - 1, math.max(0, math.ceil(p * s.size).toInt - 1)))
    }
  private def mean(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else xs.sum / xs.size

  /** The trigger interval: `IngestPipeline.start`'s default, which is also
    * ProxyApp's `--syncsec` default. */
  private val TriggerSec = 2

  /** Reads per second of the `lake_ingest_read` reader, due on a fixed
    * schedule: a phase runs the same reads whatever each one costs. One
    * per trigger interval keeps the reader well short of saturation; at
    * one a second its reads queued on a loaded host. */
  private val ReadsPerSec = 0.5

  private def cpuMs(): Double = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    .getProcessCpuTime / 1e6

  private def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024).getOrElse(0.0)

  /** The fixed CPU probe of `graft.Bench.calibrate`: a box that runs it
    * slower is a loaded box, not a slower program. */
  private def calibrate(): Double = {
    val t0 = System.nanoTime()
    var acc = 0L
    var i = 0
    while (i < 80000000) { acc += java.lang.Long.hashCode(acc + i); i += 1 }
    if (acc == 42L) System.err.println("")
    (System.nanoTime() - t0) / 1e9
  }

  final class Ctl(port: Int) {
    private val http = HttpClient.newBuilder()
      .version(HttpClient.Version.HTTP_1_1).build()
    def get(path: String): String = {
      val r = http.send(HttpRequest.newBuilder(
          URI.create(s"http://127.0.0.1:$port$path"))
        .timeout(Duration.ofSeconds(170)).GET().build(),
        HttpResponse.BodyHandlers.ofString())
      if (r.statusCode != 200)
        throw new IllegalStateException(s"loadgen $path: ${r.body}")
      r.body
    }
    def field(js: String, k: String): Long =
      s""""$k":(-?\\d+)""".r.findFirstMatchIn(js).map(_.group(1).toLong)
        .getOrElse(throw new IllegalStateException(s"no $k in $js"))
  }

  final case class PhaseRec(name: String, startUs: Long, endUs: Long,
      drainedUs: Long, cpuMs: Double, acked: Long, rows: Long) {
    def json: String = jobj(Seq("name" -> jstr(name),
      "start_us" -> startUs.toString, "end_us" -> endUs.toString,
      "drained_us" -> drainedUs.toString, "cpu_ms" -> num(cpuMs),
      "acked" -> acked.toString, "rows" -> rows.toString))
  }

  def main(args: Array[String]): Unit = {
    val opt = args.sliding(2, 2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    val runDir = opt("run_dir")
    val workload = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val trace = opt("trace") == "1"
    val cpus = Runtime.getRuntime.availableProcessors()
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime

    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"$runDir/spark-local")
      .config("spark.sql.warehouse.dir", s"$runDir/warehouse")
      .config("spark.sql.streaming.checkpoint.fileChecksum.enabled", "false")
      .withExtensions(new graft.plans.GraftExtensions)
      .getOrCreate()
    graft.model.Tables.bootstrap(spark)
    spark.sparkContext.setLogLevel("ERROR")

    // the listeners are registered where the traced part of a run starts
    val jobs = new JobRecorder(gated = workload == "query_suite")
    val progress = new ProgressRecorder
    val gc = new GcWatch(jvmStartMs)

    val out = ArrayBuffer.empty[(String, String)]
    val layers = ArrayBuffer.empty[(String, Double)]
    val spans = ArrayBuffer.empty[Span]
    try {
      workload match {
        case "proxy_ingest" | "lake_ingest_read" =>
          ingest(spark, opt, workload, runDir, seconds, trace, jvmStartMs,
            jobs, progress, gc, out, layers, spans)
        case "query_suite" =>
          querySuite(spark, opt, runDir, seed, seconds, trace, jvmStartMs,
            jobs, gc, out, layers, spans)
        case w => fail(s"unknown workload $w")
      }
    } catch {
      case e: Throwable =>
        e.printStackTrace()
        fail(s"harness: $e")
    }
    out += "calib_s" -> num(math.min(calibrate(), calibrate()))
    out += "peak_rss_mb" -> num(peakRssMb())
    // what the run leaves live on the heap once the operators' build-once
    // caches are dropped and garbage is collected; the least of a few
    // collections, since Spark's cleaner frees blocks asynchronously
    clearCaches()
    out += "live_heap_mb" -> num((1 to 4).map { _ =>
      System.gc(); Thread.sleep(300)
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    }.min)
    out += "errors" -> errors.asScala.map(jstr).mkString("[", ",", "]")
    if (trace) {
      out += "layers" -> jobj(layers.toSeq.map { case (k, v) => k -> num(v) })
      out += "self_ms" -> jobj(Span.selfMs(spans.toSeq).toSeq.sortBy(_._1)
        .map { case (k, v) => k -> num(v) })
      Files.write(Paths.get(s"$runDir/spans.jsonl"),
        spans.map(_.json).mkString("", "\n", "\n").getBytes(UTF_8))
    }
    Files.write(Paths.get(s"$runDir/sut.json"), jobj(out.toSeq).getBytes(UTF_8))
    spark.streams.active.foreach(q => try q.stop() catch { case _: Exception => () })
    spark.stop()
    sys.exit(0)
  }

  // ---- ingest workloads -------------------------------------------------------

  private def ingest(spark: SparkSession, opt: Map[String, String],
      workload: String, runDir: String, seconds: Double, trace: Boolean,
      jvmStartMs: Long, jobs: JobRecorder, progress: ProgressRecorder,
      gc: GcWatch, out: ArrayBuffer[(String, String)],
      layers: ArrayBuffer[(String, Double)], spans: ArrayBuffer[Span]): Unit = {
    val lake = workload == "lake_ingest_read"
    val ctl = new Ctl(opt("ctl").toInt)
    val rate = opt("rate").toDouble
    val drop = s"$runDir/drop"
    val table = s"$runDir/lake/t"
    val rx = new FastHttpReceiver(drop).start()
    val sink: IngestPipeline.BatchSink = {
      val base = new ClickHouseSink(s"http://127.0.0.1:${opt("stub")}")
      if (trace) new TimingSink(base) else base
    }
    val source = RequestSource.fileStream(spark, drop).select("uri", "body")
    val metrics = new MetricStorage("perfbench")
    val q: StreamingQuery =
      if (lake)
        source.writeStream.format("graft-commitlog")
          .option("path", table)
          .option("checkpointLocation", s"$runDir/ckpt")
          .trigger(Trigger.ProcessingTime(s"$TriggerSec seconds"))
          .start()
      else IngestPipeline.start(source, s"$runDir/dlq", s"$runDir/ckpt",
        sink, metrics = Some(metrics))

    // version poller: when each committed version became visible
    val versions = new java.util.concurrent.ConcurrentSkipListMap[Long, Long]()
    @volatile var polling = lake
    val poller = new Thread(() => {
      while (polling) {
        // a log listing that races a commit is retried on the next poll
        val v = try CommitLogIngest.latestVersion(table)
          catch { case _: java.io.IOException => -1L }
        if (v >= 0 && !versions.containsKey(v)) {
          val now = Clock.us()
          var k = v
          while (k >= 0 && !versions.containsKey(k)) { versions.put(k, now); k -= 1 }
        }
        Thread.sleep(5)
      }
    }, "perfbench-version-poller")
    poller.setDaemon(true)
    poller.start()

    def idSum(df: DataFrame): (Long, Long) = {
      val r = df.agg(count(lit(1)),
        coalesce(sum(substring_index(col("body"), "\t", 1).cast("long")),
          lit(0L))).head()
      (r.getLong(0), r.getLong(1))
    }
    var expectRows = 0L
    /** Wait until every acked row is delivered (stub) or committed. */
    def drain(): Unit = {
      val deadline = System.nanoTime() + 60L * 1000000000L
      var done = false
      var seenV = -1L
      while (!done && System.nanoTime() < deadline) {
        val got =
          if (lake) {
            // count only when a new version landed: each count is a job
            val v = CommitLogIngest.latestVersion(table)
            if (v <= seenV) -1L
            else { seenV = v; CommitLogIngest.snapshot(spark, table, v).count() }
          } else ctl.field(ctl.get("/ctl/delivered"), "rows")
        if (got >= expectRows) done = true else Thread.sleep(10)
      }
      if (!done) fail(s"drain: rows not delivered within 60 s")
    }
    // lake: one reader thread runs reads that fall due at an even pace
    // through each measured phase (open loop), each timed from its due
    // time; a phase's CPU time therefore grows with what a read costs
    val readDue = new java.util.concurrent.LinkedBlockingQueue[java.lang.Long]()
    val readsDone = new java.util.concurrent.Semaphore(0)
    def scheduleReads(atUs: Long, secs: Double): Int = {
      val n = math.max(1, (ReadsPerSec * secs).round.toInt)
      (0 until n).foreach(i =>
        readDue.add(atUs + ((i + 0.5) / ReadsPerSec * 1e6).toLong))
      n
    }
    def awaitReads(n: Int): Unit =
      if (!readsDone.tryAcquire(n, 60, java.util.concurrent.TimeUnit.SECONDS))
        fail("reads not done within 60 s of their phase")
    // set where the traced half starts: read spans and plan walks are off
    // before it
    @volatile var tracing = false
    val reads = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val readSpans = new java.util.concurrent.ConcurrentLinkedQueue[Span]()
    val scanFiles =
      new java.util.concurrent.ConcurrentLinkedQueue[(Long, String, Long)]()
    val reader = new Thread(() => {
      val rng = new java.util.Random(opt("seed").toLong * 31 + 7)
      val zipf = new LoadGen.Zipf(24, 1.1)
      var ttAnswer: Option[(Long, Long)] = None
      var lastTotal = 0L
      var i = 0
      var due = readDue.take().longValue
      while (due >= 0) {
        val wait = due - Clock.us()
        if (wait > 0) Thread.sleep(wait / 1000, (wait % 1000).toInt * 1000)
        // a fixed cycle of the three kinds, so every run reads the same mix
        val kind = Seq("full", "selective", "time_travel")(i % 3)
        val key = s"read$i"
        spark.sparkContext.setLocalProperty(JobRecorder.ScopeKey, key)
        val t0 = Clock.us()
        var ok = true
        var t1 = t0
        try {
          val early = versions.firstKey() // first committed version
          val df = kind match {
            case "full" => CommitLogIngest.snapshot(spark, table)
            case "selective" => spark.read.format("graft-commitlog")
              .option("path", table).load()
            case _ => spark.read.format("graft-commitlog")
              .option("versionAsOf", early.toString).option("path", table).load()
          }
          t1 = Clock.us()
          val act = kind match {
            case "full" => df.groupBy("uri").agg(count(lit(1)).as("n"))
            case "selective" =>
              df.filter(col("uri") === LoadGen.uriOf(zipf.draw(rng.nextDouble()), 1))
                .agg(count(lit(1)), coalesce(sum(length(col("body"))), lit(0L)))
            case _ => df.agg(count(lit(1)), coalesce(sum(length(col("body"))), lit(0L)))
          }
          val rows = act.collect()
          kind match {
            case "full" =>
              val total = rows.map(_.getLong(1)).sum
              if (total < lastTotal) { ok = false; fail(s"$key: snapshot shrank") }
              lastTotal = total
            case "time_travel" =>
              val a = (rows(0).getLong(0), rows(0).getLong(1))
              if (ttAnswer.exists(_ != a)) { ok = false; fail(s"$key: versionAsOf moved") }
              ttAnswer = Some(a)
            case _ => ()
          }
          // files the scan read: one input partition per file on the
          // DSv2 path, the relation's file list on the snapshot() path
          if (tracing) scanFiles.add((due, kind,
            collect(act.queryExecution.executedPlan) {
              case s: BatchScanExec => s.inputPartitions.size.toLong
              case s: FileSourceScanExec =>
                s.relation.location.inputFiles.length.toLong
            }.sum))
        } catch {
          case e: Exception => ok = false; fail(s"$key ($kind): $e")
        }
        val t2 = Clock.us()
        reads.add(s"""["$kind",$due,$t0,$t1,$t2,${if (ok) 1 else 0}]""")
        if (tracing) {
          readSpans.add(Span(key, "reader", due, t2, ""))
          readSpans.add(Span(s"$key.resolve", "CommitLogIngest", t0, t1, key))
          readSpans.add(Span(s"$key.scan", "CommitLogTable", t1, t2, key))
        }
        readsDone.release()
        i += 1
        due = readDue.take().longValue
      }
    }, "perfbench-reader")
    if (lake) reader.start()

    val phases = ArrayBuffer.empty[PhaseRec]
    /** One phase of traffic, drained; `owed` waits for the rest of the
      * phase's work (the lake's scheduled reads) before CPU time is taken. */
    def phase(name: String, args: String, owed: () => Unit = () => ()): PhaseRec = {
      val c0 = cpuMs()
      val t0 = Clock.us()
      val r = ctl.get(s"/ctl/phase?name=$name&port=${rx.boundPort}&$args")
      val t1 = Clock.us()
      val rows = ctl.field(r, "rows")
      val acked = ctl.field(r, "acked")
      if (acked != ctl.field(r, "sent") && name != "burst") fail(s"$name: $r")
      expectRows += rows
      drain()
      owed()
      val p = PhaseRec(name, t0, t1, Clock.us(), cpuMs() - c0, acked, rows)
      phases += p
      p
    }
    def open(name: String, secs: Double): PhaseRec =
      phase(name, s"n=${math.max(1, (rate * secs).round)}&rate=$rate")
    // processing-time triggers fire on multiples of the interval since the
    // epoch: start a phase `offsetMs` after one (at least a second ahead,
    // for the load generator to build its requests), so every run lines
    // its traffic up with the same trigger grid
    val period = TriggerSec * 1000L
    def afterTrigger(offsetMs: Long): Long = {
      val t = System.currentTimeMillis() + 1000
      (t - t % period + period + offsetMs) * 1000L
    }
    def measured(name: String, secs: Double): PhaseRec = {
      val at = afterTrigger(100)
      val nReads = if (lake) scheduleReads(at, secs) else 0
      phase(name, s"n=${math.max(1, (rate * secs).round)}&rate=$rate&at=$at",
        () => if (lake) awaitReads(nReads))
    }

    open("warm", opt("warm_s").toDouble)
    if (lake) {
      // one read of each kind, due at once: the reader's first planning
      // and JIT land in set-up, not in the first measured reads
      val now = Clock.us()
      (0 until 3).foreach(_ => readDue.add(now))
      awaitReads(3)
    }
    out += "setup_s" -> num((System.currentTimeMillis() - jvmStartMs) / 1000.0)

    if (!trace) measured("main", seconds)
    else {
      measured("main_untraced", seconds / 2)
      // tracing starts here: the listeners, the timing sink, the read
      // spans and the per-read plan walk are all off in the untraced half
      spark.sparkContext.addSparkListener(jobs)
      spark.streams.addListener(progress)
      SendLog.on = true
      tracing = true
      val acc0 = (rx.inRequests.get(), rx.totalRequests.get(), rx.outFiles.get())
      val b = measured("main_traced", seconds / 2)
      val acc1 = (rx.inRequests.get(), rx.totalRequests.get(), rx.outFiles.get())
      traceIngest(spark, lake, table, b, acc0, acc1, jobs, progress, gc,
        versions, readSpans.asScala.toSeq, scanFiles.asScala.toSeq,
        layers, spans)
    }
    readDue.add(-1L)
    if (lake) reader.join()
    if (!lake) {
      // start the burst just after a trigger, so it measures the edge and
      // spool without a micro-batch competing for the cores
      phase("burst", s"n=${opt("burst_n")}&seconds=${opt("burst_s")}" +
        s"&at=${afterTrigger(50)}")
    }
    polling = false
    q.stop()
    rx.stop()
    out += "phases" -> phases.map(_.json).mkString("[", ",", "]")
    // failed sends, as the pipeline's own counters record them: a batch
    // with one is the one case in which the pipeline may send rows again
    val counters = metrics.flushLines().map(_.split(' ')).collect {
      case Array(k, v) => k -> v }.toMap
    out += "send_errors" ->
      counters.getOrElse("one_sec.proxyhouse.ch_errors", "0")
    out += "rows_sent" -> counters.getOrElse("one_sec.proxyhouse.rows_sent", "0")
    out += "sends" -> counters.getOrElse("one_sec.proxyhouse.requests_sent", "0")
    if (lake) {
      out += "reads" -> reads.asScala.mkString("[", ",", "]")
      // id → first version holding it, from each version's snapshot
      val vs = versions.asScala.toSeq
      val seen = scala.collection.mutable.HashSet.empty[Long]
      val ids = ArrayBuffer.empty[Long]
      val vis = ArrayBuffer.empty[Long]
      vs.foreach { case (v, atUs) =>
        CommitLogIngest.snapshot(spark, table, v)
          .select(substring_index(col("body"), "\t", 1).cast("long"))
          .collect().foreach { r =>
            val id = r.getLong(0)
            if (seen.add(id)) { ids += id; vis += atUs }
          }
      }
      LoadGen.writeLongs(s"$runDir/visible.bin", Seq(ids.toArray, vis.toArray))
      val (n, s) = idSum(CommitLogIngest.snapshot(spark, table))
      out += "lake" -> jobj(Seq("count" -> n.toString, "id_sum" -> s.toString,
        "versions" -> vs.size.toString))
    }
    // the load generator writes its records and exits
    ctl.get("/ctl/finish")
  }

  private def traceIngest(spark: SparkSession, lake: Boolean, table: String,
      ph: PhaseRec, acc0: (Long, Long, Long), acc1: (Long, Long, Long),
      jobs: JobRecorder, progress: ProgressRecorder, gc: GcWatch,
      versions: java.util.concurrent.ConcurrentSkipListMap[Long, Long],
      readSpans: Seq[Span], scanFiles: Seq[(Long, String, Long)],
      layers: ArrayBuffer[(String, Double)], spans: ArrayBuffer[Span]): Unit = {
    // listener events arrive asynchronously: let the bus catch up
    Thread.sleep(500)
    val (a, b) = (ph.startUs, ph.drainedUs)
    val batches = progress.all.filter(x => x.startUs >= a && x.startUs < b &&
      x.rows > 0)
    val bIds = batches.map(_.id).toSet
    val nb = math.max(1, batches.size).toDouble
    val bJobs = jobs.all.filter(j => bIds.contains(j.batch))
    val sends = SendLog.all.filter(s => bIds.contains(s.batch))
    val accepted = acc1._1 - acc0._1
    layers += "FastHttpReceiver.accepted" -> accepted.toDouble
    layers += "FastHttpReceiver.refused" ->
      ((acc1._2 - acc0._2) - accepted).toDouble
    layers += "DropSpool.files" -> (acc1._3 - acc0._3).toDouble
    layers += "RequestSource.discover_ms" ->
      mean(batches.map(x => (x.ms("latestOffset") + x.ms("getBatch")).toDouble))
    layers += "RequestSource.files_per_batch" -> (acc1._3 - acc0._3) / nb
    val trig = batches.map(_.ms("triggerExecution").toDouble)
    layers += "stream.trigger_ms_p50" -> pct(trig, 0.5)
    layers += "stream.trigger_ms_max" -> (if (trig.isEmpty) 0.0 else trig.max)
    layers += "stream.plan_ms" -> mean(batches.map(_.ms("queryPlanning").toDouble))
    layers += "stream.wal_ms" -> mean(batches.map(_.ms("walCommit").toDouble))
    layers += "stream.rows_per_batch" -> mean(batches.map(_.rows.toDouble))
    val addMs = mean(batches.map(_.ms("addBatch").toDouble))
    val ip = if (lake) 0.0 else 1.0
    layers += "IngestPipeline.add_batch_ms" -> addMs * ip
    layers += "IngestPipeline.jobs_per_batch" -> bJobs.size / nb * ip
    layers += "IngestPipeline.task_s_per_batch" -> bJobs.map(_.taskMs).sum / 1000.0 / nb * ip
    layers += "IngestPipeline.shuffle_bytes_per_batch" ->
      bJobs.map(_.shuffleWrite).sum / nb * ip
    layers += "IngestPipeline.groups_per_batch" -> sends.size / nb
    val sendMs = sends.map(s => (s.endUs - s.startUs) / 1000.0)
    layers += "ClickHouseSink.sends" -> sends.size.toDouble
    layers += "ClickHouseSink.send_ms_p50" -> pct(sendMs, 0.5)
    layers += "ClickHouseSink.send_ms_max" -> (if (sendMs.isEmpty) 0.0 else sendMs.max)
    layers += "ClickHouseSink.bytes" -> sends.map(_.bytes).sum.toDouble
    val lk = if (lake) 1.0 else 0.0
    val newVersions = versions.asScala.count { case (_, t) => t >= a && t < b }
    layers += "CommitLogWrite.add_batch_ms" -> addMs * lk
    layers += "CommitLogWrite.versions" -> newVersions.toDouble
    // data files the traced versions added, from the table's log
    val added =
      if (!lake || newVersions == 0) Seq.empty[String]
      else {
        val vs = versions.asScala.collect { case (v, t) if t >= a && t < b => v }.toSeq
        spark.read.parquet(s"$table/log")
          .filter(col("action") === "add" &&
            col("version").cast("long").isin(vs: _*))
          .select("path").collect().map(_.getString(0)).toSeq
      }
    layers += "CommitLogWrite.files_per_version" ->
      added.size / math.max(1, newVersions).toDouble
    layers += "CommitLogWrite.bytes_written" ->
      added.map(p => new java.io.File(p).length).sum.toDouble
    val rs = readSpans.filter(s => s.layer == "reader" && s.startUs >= a && s.startUs < b)
    val rKeys = rs.map(_.key).toSet
    val rChildren = readSpans.filter(s => rKeys.contains(s.parent))
    def durs(layer: String) = rChildren.filter(_.layer == layer)
      .map(s => (s.endUs - s.startUs) / 1000.0)
    val nr = math.max(1, rs.size).toDouble
    val rJobs = jobs.all.filter(j => rKeys.contains(j.scope))
    layers += "CommitLogIngest.resolve_ms_p50" -> pct(durs("CommitLogIngest"), 0.5)
    layers += "CommitLogIngest.conflicts" -> CommitLogIngest.conflicts.toDouble
    layers += "CommitLogIngest.live_files_end" -> scanFiles
      .filter(x => x._1 < b && x._2 == "full").sortBy(_._1).lastOption
      .map(_._3.toDouble).getOrElse(0.0)
    layers += "CommitLogTable.scan_ms_p50" -> pct(durs("CommitLogTable"), 0.5)
    layers += "CommitLogTable.bytes_read_per_read" -> rJobs.map(_.bytesRead).sum / nr
    layers += "CommitLogTable.files_read_per_read" ->
      scanFiles.filter(x => x._1 >= a && x._1 < b).map(_._3).sum / nr
    gcLayers(gc, a, b, layers)

    // spans: each trigger with its phases laid out in execution order,
    // the batch's jobs under addBatch, and each send under its job
    val addLayer = if (lake) "CommitLogWrite" else "IngestPipeline"
    batches.foreach { x =>
      val k = s"batch${x.id}"
      spans += Span(k, "stream", x.startUs, x.endUs, "")
      var t = x.startUs
      Seq("latestOffset" -> "RequestSource", "walCommit" -> "stream",
        "getBatch" -> "RequestSource", "queryPlanning" -> "stream",
        "addBatch" -> addLayer, "commitOffsets" -> "stream").foreach {
        case (d, layer) =>
          val e = t + x.ms(d) * 1000
          spans += Span(s"$k.$d", layer, t, e, k)
          t = e
      }
      val js = bJobs.filter(_.batch == x.id)
      js.foreach(j => spans += Span(s"job${j.id}", "spark", j.startUs,
        math.max(j.startUs, j.endUs), s"$k.addBatch"))
      sends.filter(_.batch == x.id).zipWithIndex.foreach { case (s, i) =>
        val parent = js.find(j => j.startUs <= s.startUs && s.startUs <= j.endUs)
          .map(j => s"job${j.id}").getOrElse(s"$k.addBatch")
        spans += Span(s"$k.send$i", "ClickHouseSink", s.startUs, s.endUs, parent)
      }
    }
    spans ++= rs ++ rChildren
    rJobs.foreach(j => spans += Span(s"job${j.id}", "spark", j.startUs,
      math.max(j.startUs, j.endUs), s"${j.scope}.scan"))
  }

  private def gcLayers(gc: GcWatch, a: Long, b: Long,
      layers: ArrayBuffer[(String, Double)]): Unit = {
    val p = gc.in(a, b)
    layers += "jvm.gc_ms" -> p.sum.toDouble
    layers += "jvm.gc_max_pause_ms" -> (if (p.isEmpty) 0.0 else p.max.toDouble)
  }

  /** Module families of the query suite, by entry-name prefix. */
  val families = Seq("ProxyQueries", "Analytics", "Dedup", "Similarity",
    "TextAnalysis", "sources", "Multimodal")
  def familyOf(name: String): String =
    if (name.startsWith("src_")) "sources"
    else name.take(2) match {
      case "o1" | "o2" | "o3" => "ProxyQueries"
      case "d_" => "Dedup"
      case "s_" => "Similarity"
      case "t_" => "TextAnalysis"
      case "m_" => "Multimodal"
      case _ => "Analytics"
    }

  /** Drop every operator's build-once cache, so each pass pays the model
    * builds a fresh batch job pays. */
  private def clearCaches(): Unit = {
    graft.operators.Dedup.clearPairCache()
    graft.operators.Similarity.clearEmbedPairCache()
    graft.operators.Similarity.clearKmeansCache()
    graft.operators.Similarity.clearPqCache()
    graft.operators.Similarity.clearIvfPqCache()
    graft.operators.TextAnalysis.clearBpeCache()
  }

  // ---- query suite --------------------------------------------------------------

  private def querySuite(spark: SparkSession, opt: Map[String, String],
      runDir: String, seed: Long, seconds: Double, trace: Boolean,
      jvmStartMs: Long, jobs: JobRecorder, gc: GcWatch,
      out: ArrayBuffer[(String, String)],
      layers: ArrayBuffer[(String, Double)], spans: ArrayBuffer[Span]): Unit = {
    val data = opt("data")
    val minPasses = opt("min_passes").toInt
    val names = opt("entries").split(',').toSeq
    val queries = SparkEntry.queries
    val oracles = SparkEntry.oracleSql
    names.filterNot(queries.contains).foreach(n => fail(s"no entry $n"))
    val sc = spark.sparkContext

    /** One entry, fully executed; returns its wall ms (NaN on error). */
    def run(name: String, scope: String, write: DataFrame => Unit): Double = {
      sc.setLocalProperty(JobRecorder.ScopeKey, scope)
      val t0 = System.nanoTime()
      try {
        write(queries(name)(spark, data))
        (System.nanoTime() - t0) / 1e6
      } catch {
        case e: Exception => fail(s"$name: $e"); Double.NaN
      } finally sc.setLocalProperty(JobRecorder.ScopeKey, null)
    }

    // cold pass: set-up, and the one untimed run whose results the
    // oracle check compares
    clearCaches()
    val cold = names.map { n =>
      n -> run(n, s"cold:$n", _.write.mode("overwrite")
        .parquet(s"$runDir/results/$n.parquet"))
    }
    out += "setup_s" -> num((System.currentTimeMillis() - jvmStartMs) / 1000.0)
    out += "cold_ms" -> jobj(cold.map { case (k, v) => k -> num(v) })
    Files.write(Paths.get(s"$runDir/oracle_sql.json"),
      jobj(names.filter(oracles.contains).map(n => n -> jstr(oracles(n))))
        .getBytes(UTF_8))

    val rng = new java.util.Random(seed)
    val passes = ArrayBuffer.empty[(Boolean, Long, Long, Double, Seq[(String, Double)])]
    // the recorder keeps only the jobs of passes run under TracedKey
    if (trace) sc.addSparkListener(jobs)
    val c0 = cpuMs()
    val tStart = System.nanoTime()
    var p = 0
    // with tracing, passes alternate untraced / traced, so the per-layer
    // numbers and the tracing overhead come from the same run
    while (p < minPasses || (trace && p < 2 * minPasses) ||
        (System.nanoTime() - tStart) / 1e9 < seconds) {
      val traced = trace && p % 2 == 1
      sc.setLocalProperty(JobRecorder.TracedKey, if (traced) "1" else null)
      clearCaches()
      val order = scala.util.Random.javaRandomToRandom(rng).shuffle(names)
      val a = Clock.us()
      val t0 = System.nanoTime()
      val times = order.map(n => n -> run(n, s"q$p:$n",
        _.write.format("noop").mode("overwrite").save()))
      val wall = (System.nanoTime() - t0) / 1e6
      passes += ((traced, a, Clock.us(), wall, times))
      p += 1
    }
    sc.setLocalProperty(JobRecorder.TracedKey, null)
    out += "cpu_ms" -> num(cpuMs() - c0)
    out += "passes" -> passes.map { case (tr, _, _, wall, times) =>
      jobj(Seq("traced" -> tr.toString, "wall_ms" -> num(wall),
        "entries" -> jobj(times.map { case (k, v) => k -> num(v) })))
    }.mkString("[", ",", "]")

    if (trace) {
      Thread.sleep(500) // listener bus catch-up
      val tp = passes.zipWithIndex.filter(_._1._1)
      val nPass = math.max(1, tp.size).toDouble
      val all = jobs.all
      val famJobs = families.map(_ -> ArrayBuffer.empty[JobStats]).toMap
      var gap = families.map(_ -> 0L).toMap
      tp.foreach { case ((_, _, _, _, times), pi) =>
        times.foreach { case (n, _) =>
          val js = all.filter(_.scope == s"q$pi:$n")
          famJobs(familyOf(n)) ++= js
        }
      }
      // spans: each entry's interval, reconstructed from its jobs' bounds
      // and the recorded wall time, with its jobs as children
      tp.foreach { case ((_, a, _, _, times), pi) =>
        var t = a
        times.foreach { case (n, ms) =>
          val e = t + (if (ms.isNaN) 0L else (ms * 1000).toLong)
          val key = s"q$pi:$n"
          val js = all.filter(_.scope == key)
          val s0 = (t +: js.map(_.startUs)).min
          val s1 = (e +: js.map(_.endUs)).max
          spans += Span(key, familyOf(n), s0, s1, "")
          js.foreach(j => spans += Span(s"job${j.id}", "spark", j.startUs,
            math.max(j.startUs, j.endUs), key))
          gap = gap.updated(familyOf(n), gap(familyOf(n)) +
            Span.uncovered((s0, s1), js.map(j => (j.startUs, j.endUs))))
          t = e
        }
      }
      families.foreach { f =>
        val js = famJobs(f)
        layers += s"$f.jobs" -> js.size / nPass
        layers += s"$f.driver_gap_s" -> gap(f) / 1e6 / nPass
        layers += s"$f.task_s" -> js.map(_.taskMs).sum / 1000.0 / nPass
        layers += s"$f.shuffle_bytes" -> js.map(_.shuffleWrite).sum / nPass
        layers += s"$f.spill_bytes" -> js.map(_.spill).sum / nPass
      }
      val (a, b) = (tp.map(_._1._2).min, tp.map(_._1._3).max)
      gcLayers(gc, a, b, layers)
    }
  }
}
