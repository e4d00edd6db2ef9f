package graft

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.graft.ListenerDrain

import graft.streaming.CommitLogIngest

/** The commit log's metadata plane runs no Spark jobs: a streaming epoch
  * of the `graft-commitlog` sink costs exactly its data write (a log
  * checkpoint epoch included), resolving a new version's live set,
  * schema and txn epoch costs none, and neither does opening the table
  * through the V2 provider. */
class CommitLogJobCountSpec extends SparkSuite {

  private def tmp(prefix: String): String = {
    val d = java.nio.file.Files.createTempDirectory(s"graft-jobs-$prefix")
    d.toFile.deleteOnExit()
    d.toString
  }

  /** Records every job start with its streaming batch id (if any). */
  private final class Jobs extends SparkListener {
    val started = new ConcurrentLinkedQueue[Option[Long]]()
    override def onJobStart(e: SparkListenerJobStart): Unit =
      started.add(Option(e.properties)
        .flatMap(p => Option(p.getProperty("streaming.sql.batchId")))
        .map(_.toLong))
  }

  /** The jobs `body` starts. */
  private def jobsOf[T](body: => T): (T, Seq[Option[Long]]) = {
    val jobs = new Jobs
    ListenerDrain(spark)
    spark.sparkContext.addSparkListener(jobs)
    try {
      val out = body
      ListenerDrain(spark)
      (out, jobs.started.asScala.toSeq)
    } finally spark.sparkContext.removeSparkListener(jobs)
  }

  test("a graft-commitlog streaming epoch runs one job, a checkpoint epoch included") {
    val s = spark
    import s.implicits._
    val table = tmp("sink")
    val in = MemoryStream[(Long, String)](s)
    val q = in.toDF().toDF("id", "p")
      .writeStream.format("graft-commitlog").option("path", table)
      .option("checkpointLocation", tmp("sink-ck"))
      .start()
    val (_, jobs) =
      try jobsOf {
        (0 until 12).foreach { i =>
          in.addData((i.toLong, s"p$i"))
          q.processAllAvailable()
        }
      } finally q.stop()
    assert(CommitLogIngest.latestVersion(table) == 11L)
    assert(CommitLogIngest.lastCheckpoint(table) == 9L,
      "the run did not cross the v = 9 log checkpoint")
    val perEpoch = jobs.flatten.groupBy(identity).map { case (b, js) =>
      b -> js.size }
    assert(perEpoch == (0L until 12L).map(_ -> 1).toMap,
      s"jobs per epoch: ${perEpoch.toSeq.sorted}")
  }

  test("a commitAppend with a statsCol runs three jobs, none to infer a schema") {
    val s = spark
    import s.implicits._
    val table = tmp("stats")
    val df = (0L until 40L).map(k => (k, s"p$k")).toDF("id", "p")
    val (v, jobs) =
      jobsOf(CommitLogIngest.commitAppend(df, table, statsCol = Some("id")))
    assert(v == 0L)
    assert(jobs.size == 3, s"${jobs.size} job(s)")
    assert(CommitLogIngest.snapshot(s, table).filter($"id" === 7L).count() == 1)
  }

  test("resolving a new version's live set, schema and txn epoch runs no job") {
    val s = spark
    import s.implicits._
    val table = tmp("resolve")
    (0 until 12).foreach(i =>
      CommitLogIngest.commitActions(s, table,
        adds = Seq(s"$table/data/f$i.parquet"), removes = Seq.empty,
        statsCol = None, statsDir = None,
        schemaOf = Some(Seq((1L, "a")).toDF("id", "p").schema),
        txn = Some(s"q:$i")))
    val latest = CommitLogIngest.latestVersion(table)
    val (got, jobs) = jobsOf {
      (CommitLogIngest.lastTxnEpoch(s, table, "q"),
        CommitLogIngest.liveState(s, table, latest)._1.size,
        CommitLogIngest.schemaAt(s, table, latest).map(_.fieldNames.toSeq),
        // below the latest checkpoint: a replay from scratch
        CommitLogIngest.liveState(s, table, 5L)._1.size)
    }
    assert(got == ((11L, 12, Some(Seq("id", "p")), 6)))
    assert(jobs.isEmpty, s"${jobs.size} job(s) resolving metadata")
  }

  test("opening the table through the V2 provider runs no job before its action") {
    val s = spark
    import s.implicits._
    val table = tmp("load")
    (0 until 3).foreach(i =>
      (0L until 40L).map(k => (k + 40L * i, s"p$k")).toDF("id", "p")
        .repartition(40)
        .write.format("graft-commitlog").option("path", table)
        .mode("append").save())
    val (dfs, jobs) = jobsOf {
      Seq(s.read.format("graft-commitlog").option("path", table).load(),
        s.read.format("graft-commitlog").option("path", table)
          .option("versionAsOf", "0").load())
    }
    assert(jobs.isEmpty, s"${jobs.size} job(s) before any action")
    assert(dfs.map(_.count()) == Seq(120L, 40L))
  }
}
