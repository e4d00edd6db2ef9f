package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.streaming.CommitLogIngest

/** `timestampAsOf` time travel (the Delta option) and the PLAN shape of
  * the deletion-vector mask join: the masked read must resolve to a
  * broadcast anti-join (mask side broadcast — the data side never
  * shuffles for a small mask), or the merge-on-read read tax stops
  * being noise at scale. */
class TimestampTravelSpec extends SparkSuite {

  private def tmp(): String = {
    val d = java.nio.file.Files.createTempDirectory("graft-ts")
    d.toFile.deleteOnExit()
    d.toString + "/t"
  }

  private def append(table: String, from: Long, n: Long): Unit = {
    val s = spark
    import s.implicits._
    (from until from + n).map(i => (i, i * 2))
      .toDF("id", "n")
      .write.format("graft-commitlog").option("path", table)
      .option("enableDv", "true").mode("append").save()
  }

  test("timestampAsOf resolves to the latest commit at or before the " +
      "instant; pre-table instants refuse; versionAsOf conflict refused") {
    val s = spark
    val table = tmp()
    append(table, 0L, 10L)
    val t0 = System.currentTimeMillis()
    Thread.sleep(1100) // the mtime clock is second-granular on some FS
    append(table, 10L, 10L)
    val t1 = System.currentTimeMillis()

    assert(CommitLogIngest.versionAt(table, t0) == 0L)
    assert(CommitLogIngest.versionAt(table, t1) == 1L)
    // epoch-millis form through the V2 reader
    assert(s.read.format("graft-commitlog").option("path", table)
      .option("timestampAsOf", t0.toString).load().count() == 10L)
    assert(s.read.format("graft-commitlog").option("path", table)
      .option("timestampAsOf", t1.toString).load().count() == 20L)
    // 'yyyy-MM-dd HH:mm:ss' form — second-granular, so ceil to the next
    // whole second (formatting t1 itself would FLOOR below v1's mtime)
    val fmt = new java.text.SimpleDateFormat("yyyy-MM-dd HH:mm:ss")
    assert(s.read.format("graft-commitlog").option("path", table)
      .option("timestampAsOf", fmt.format(new java.util.Date(t1 + 1000)))
      .load().count() == 20L)
    // an instant before the first commit refuses loudly
    val e = intercept[Exception] {
      s.read.format("graft-commitlog").option("path", table)
        .option("timestampAsOf", "1000").load().count()
    }
    def chain(t: Throwable): Seq[String] =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
        .map(x => Option(x.getMessage).getOrElse("")).toSeq
    assert(chain(e).exists(_.contains("predates")))
    // both pins together are ambiguous — refused
    val e2 = intercept[Exception] {
      s.read.format("graft-commitlog").option("path", table)
        .option("timestampAsOf", t0.toString)
        .option("versionAsOf", "1").load().count()
    }
    assert(chain(e2).exists(_.contains("mutually exclusive")))
    // a streamed epoch resolves by its _commit_ms stamp: with its dir's
    // mtime pushed an hour ahead, the stamp still answers
    import s.implicits._
    val in = MemoryStream[(Long, Long)](s)
    val q = in.toDF().toDF("id", "n")
      .writeStream.format("graft-commitlog").option("path", table)
      .option("checkpointLocation", tmp())
      .start()
    try { in.addData((20L, 40L)); q.processAllAvailable() } finally q.stop()
    val t2 = System.currentTimeMillis()
    assert(CommitLogIngest.latestVersion(table) == 2L)
    java.nio.file.Files.setLastModifiedTime(
      java.nio.file.Paths.get(table, "log", "version=2"),
      java.nio.file.attribute.FileTime.fromMillis(t2 + 3600000L))
    assert(CommitLogIngest.versionAt(table, t2) == 2L,
      "a streamed version resolved by its dir mtime, not its stamp")
  }

  test("the dv mask join broadcasts the mask side (no data-side shuffle)") {
    val s = spark
    val table = tmp()
    append(table, 0L, 5000L)
    CommitLogIngest.deleteWhere(s, table, col("id") % 100 === 3)
    val snap = CommitLogIngest.snapshot(s, table)
    assert(snap.collect().length == 4950)
    // AQE re-plans at runtime: after execution this dataframe's OWN
    // adaptive plan is final — it must carry a broadcast LeftAnti for
    // the (file, pos) mask and no sort-merge join (which would shuffle
    // the DATA side to mask a few thousand positions)
    val executed = snap.queryExecution.executedPlan.toString
    assert(executed.contains("BroadcastHashJoin"),
      s"mask join must broadcast, got:\n$executed")
    assert(!executed.contains("SortMergeJoin"),
      s"mask anti-join shuffled the data side:\n$executed")
  }
}
