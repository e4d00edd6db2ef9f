package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.TaskContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

import graft.streaming.IngestPipeline.BatchSink

/** Epoch microseconds from a monotonic clock: one anchor per process, so
  * intervals never jump, and two processes on one host agree to within
  * the anchor's few µs. */
object Clock {
  private val nano0 = System.nanoTime()
  private val epochUs0 = {
    val i = java.time.Instant.now()
    i.getEpochSecond * 1000000L + i.getNano / 1000
  }
  def us(): Long = epochUs0 + (System.nanoTime() - nano0) / 1000
}

/** One timed interval at a layer boundary. `key` is unique; `parent` is
  * the key of the span that caused it ("" for a root). */
final case class Span(key: String, layer: String, startUs: Long,
    endUs: Long, parent: String) {
  def json: String =
    s"""{"key":"$key","layer":"$layer","start_us":$startUs,""" +
      s""""end_us":$endUs,"parent":"$parent"}"""
}

object Span {
  /** Self time per layer: each span's duration minus the part of it its
    * children cover, summed by layer (ms). */
  def selfMs(spans: Seq[Span]): Map[String, Double] = {
    val kids = spans.groupBy(_.parent)
    spans.groupBy(_.layer).map { case (layer, ss) =>
      layer -> ss.map { s =>
        val ivs = kids.getOrElse(s.key, Nil)
          .map(c => (math.max(c.startUs, s.startUs), math.min(c.endUs, s.endUs)))
          .filter { case (a, b) => b > a }.sortBy(_._1)
        var covered = 0L
        var curA = Long.MinValue
        var curB = Long.MinValue
        ivs.foreach { case (a, b) =>
          if (a > curB) {
            if (curB > curA) covered += curB - curA
            curA = a; curB = b
          } else curB = math.max(curB, b)
        }
        if (curB > curA) covered += curB - curA
        (s.endUs - s.startUs - covered) / 1000.0
      }.sum
    }
  }

  /** Wall time of `iv` not covered by the union of `jobs` (µs). */
  def uncovered(iv: (Long, Long), jobs: Seq[(Long, Long)]): Long = {
    val s = Span("root", "", iv._1, iv._2, "")
    val cs = jobs.zipWithIndex.map { case ((a, b), i) =>
      Span(s"j$i", "j", a, b, "root") }
    (selfMs(s +: cs)("") * 1000).toLong
  }
}

/** Task metrics summed over one Spark job. `scope` is the harness's
  * `perfbench.scope` local property (a query or read id) and `batch` the
  * streaming batch id, whichever the job ran under. */
final class JobStats(val id: Int, val scope: String, val batch: Long,
    val startUs: Long) {
  @volatile var endUs: Long = 0L
  @volatile var taskMs: Long = 0L
  @volatile var shuffleWrite: Long = 0L
  @volatile var spill: Long = 0L
  @volatile var bytesRead: Long = 0L
}

/** The benchmark's SparkListener: every job with its task totals. When
  * `gated`, only jobs submitted under the `perfbench.traced` local
  * property are recorded, so a run can trace some passes and not others. */
final class JobRecorder(gated: Boolean) extends SparkListener {
  val jobs = new java.util.concurrent.ConcurrentHashMap[Int, JobStats]()
  private val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, Int]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val p = Option(e.properties)
    if (gated && !p.exists(_.getProperty(JobRecorder.TracedKey) == "1")) return
    val scope = p.flatMap(x => Option(x.getProperty(JobRecorder.ScopeKey)))
      .getOrElse("")
    val batch = p.flatMap(x => Option(x.getProperty("streaming.sql.batchId")))
      .map(_.toLong).getOrElse(-1L)
    jobs.put(e.jobId, new JobStats(e.jobId, scope, batch, e.time * 1000))
    e.stageIds.foreach(s => stageJob.put(s, e.jobId))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.endUs = e.time * 1000)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) Option(stageJob.get(e.stageId)).flatMap(j =>
        Option(jobs.get(j))).foreach { js =>
      js.synchronized {
        js.taskMs += m.executorRunTime
        js.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        js.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        js.bytesRead += m.inputMetrics.bytesRead
      }
    }
  }

  def all: Seq[JobStats] = jobs.values().asScala.toSeq.sortBy(_.id)
}

object JobRecorder {
  val ScopeKey = "perfbench.scope"
  val TracedKey = "perfbench.traced"
}

/** One micro-batch's progress, as the StreamingQueryListener saw it. */
final case class Batch(id: Long, startUs: Long, rows: Long,
    durations: Map[String, Long]) {
  def ms(k: String): Long = durations.getOrElse(k, 0L)
  def endUs: Long = startUs + ms("triggerExecution") * 1000
}

final class ProgressRecorder extends StreamingQueryListener {
  val batches = new ConcurrentLinkedQueue[Batch]()
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent) = ()
  override def onQueryTerminated(
      e: StreamingQueryListener.QueryTerminatedEvent) = ()
  override def onQueryProgress(
      e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    val i = java.time.Instant.parse(p.timestamp)
    batches.add(Batch(p.batchId, i.getEpochSecond * 1000000L + i.getNano / 1000,
      p.numInputRows,
      p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap))
  }
  def all: Seq[Batch] = batches.asScala.toSeq.sortBy(_.id)
}

/** A send as the timing wrapper saw it. */
final case class Send(batch: Long, startUs: Long, endUs: Long, bytes: Long)

/** Sends recorded by [[TimingSink]] while `on`. Local mode runs tasks in
  * this JVM, so one global queue sees every executor-side send. */
object SendLog {
  @volatile var on = false
  val sends = new ConcurrentLinkedQueue[Send]()
  def all: Seq[Send] = sends.asScala.toSeq
}

/** Wraps and times a downstream sink, tagging each send with the
  * streaming batch it ran in; a pass-through while [[SendLog]] is off. */
final class TimingSink(inner: BatchSink) extends BatchSink {
  def send(uri: String, body: String, rows: Long): Boolean =
    if (!SendLog.on) inner.send(uri, body, rows)
    else {
      val t0 = Clock.us()
      val ok = inner.send(uri, body, rows)
      val t1 = Clock.us()
      val batch = Option(TaskContext.get())
        .flatMap(tc => Option(tc.getLocalProperty("streaming.sql.batchId")))
        .map(_.toLong).getOrElse(-1L)
      SendLog.sends.add(Send(batch, t0, t1, body.length.toLong))
      ok
    }
}

/** GC pauses (start µs, duration ms) from the collectors' notifications. */
final class GcWatch(jvmStartMs: Long) {
  val pauses = new ConcurrentLinkedQueue[(Long, Long)]()
  java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
    .foreach {
      case em: javax.management.NotificationEmitter =>
        em.addNotificationListener((n: javax.management.Notification, _: Any) => {
          if (n.getType == com.sun.management.GarbageCollectionNotificationInfo
              .GARBAGE_COLLECTION_NOTIFICATION) {
            val info = com.sun.management.GarbageCollectionNotificationInfo
              .from(n.getUserData.asInstanceOf[
                javax.management.openmbean.CompositeData])
            val g = info.getGcInfo
            // concurrent cycles run beside the program; only pauses stall it
            if (!info.getGcName.contains("Concurrent") &&
                !info.getGcAction.contains("concurrent"))
              pauses.add(((jvmStartMs + g.getStartTime) * 1000, g.getDuration))
          }
        }, null, null)
      case _ => ()
    }
  def in(a: Long, b: Long): Seq[Long] =
    pauses.asScala.toSeq.filter(p => p._1 >= a && p._1 < b).map(_._2)
}
