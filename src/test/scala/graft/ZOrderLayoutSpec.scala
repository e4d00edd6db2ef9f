package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._
import graft.sources.OptimizeCommit
import graft.streaming.CommitLogIngest

/** The z-clustered version's reason to exist is BALANCED data skipping:
  * per-file min/max stats must bound BOTH user_id and day tightly enough
  * that a point query on either axis touches a strict fraction of the
  * files — the property no single-sort layout has (a ts-sorted contrast
  * prunes day but puts every file in a point-user candidate set).
  * Content equality is the DuckDB oracle's job (`src_zorder`); this spec
  * pins the clustering geometry, the pushed predicates, and the
  * staleness contract. */
class ZOrderLayoutSpec extends SparkSuite {

  private def events = graft.model.Tables.withDay(
    graft.model.Tables.events(spark, sf0001))

  /** Per-file (minU, maxU, minD, maxD) from the rows themselves. */
  private def fileStats(files: Seq[String]): Array[(Long, Long, Long, Long)] =
    spark.read.parquet(files: _*)
      .groupBy(input_file_name().as("f"))
      .agg(min("user_id").as("u0"), max("user_id").as("u1"),
        min("day").as("d0"), max("day").as("d1"))
      .collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))

  private def candidates(stats: Array[(Long, Long, Long, Long)],
      u: Option[Long], d: Option[Long]): Int =
    stats.count { case (u0, u1, d0, d1) =>
      u.forall(v => u0 <= v && v <= u1) && d.forall(v => d0 <= v && v <= d1)
    }

  test("z-layout prunes point queries on BOTH axes; ts-sorted twin cannot") {
    val s = spark
    val table = OptimizeCommit.ensureEvents(s, sf0001)
    val live = CommitLogIngest.liveFiles(s, table,
      CommitLogIngest.latestVersion(table))
    val z = fileStats(live)
    assert(z.length >= OptimizeCommit.MinZFiles,
      s"z-layout has only ${z.length} files — clustering spec is vacuous")
    // the contrast: same file count, time-sorted (= ingest order) — the
    // layout a streaming sink produces by default
    val linDir = java.nio.file.Files
      .createTempDirectory("graft-zorder-linear").toString + "/t"
    events
      .repartitionByRange(z.length, col("ts")).sortWithinPartitions("ts")
      .write.parquet(linDir)
    val lin = fileStats(graft.sources.LayoutDirs.dataFiles(linDir))

    val Array(uMid, dMid) = events
      .agg((min("user_id") + max("user_id")) / 2,
        (min("day") + max("day")) / 2)
      .head().toSeq.map(v => v.asInstanceOf[Double].toLong).toArray

    val zUser = candidates(z, Some(uMid), None)
    val zDay = candidates(z, None, Some(dMid))
    val linUser = candidates(lin, Some(uMid), None)

    assert(zUser > 0 && zUser <= math.ceil(z.length * 0.7),
      s"point-user query overlaps $zUser of ${z.length} z-files — " +
        "user axis not clustered")
    assert(zDay > 0 && zDay <= math.ceil(z.length * 0.5),
      s"point-day query overlaps $zDay of ${z.length} z-files — " +
        "day axis not clustered")
    // the contrast that motivates the layout: time-sorted files each span
    // the full user range, so user predicates skip (almost) nothing
    assert(linUser >= math.floor(lin.length * 0.9),
      s"ts-sorted twin unexpectedly prunes users ($linUser of ${lin.length})" +
        " — contrast layout is broken")

    // and the table read itself skips files on either axis
    def read = s.read.format("graft-commitlog").option("path", table).load()
    val byUser =
      filesOpened(table)(read.filter(col("user_id") === uMid).collect())
    val byDay = filesOpened(table)(read.filter(col("day") === dMid).collect())
    assert(byUser.nonEmpty && byUser.size < live.size,
      s"point-user read opened ${byUser.size} of ${live.size} files")
    assert(byDay.nonEmpty && byDay.size < live.size,
      s"point-day read opened ${byDay.size} of ${live.size} files")
  }

  test("window read pushes both range predicates into the parquet scan") {
    val s = spark
    val table = OptimizeCommit.ensureEvents(s, sf0001)
    val df = OptimizeCommit.zorderWindowRead(s, sf0001)
    val files = filesOpened(table)(df.collect())
    val scans = unwrapPlan(df.queryExecution.executedPlan)
      .collect { case b: BatchScanExec => b.scan.description() }
      .filter(_.contains(table))
    assert(scans.nonEmpty, "no scan over the z-clustered table found")
    scans.foreach { d =>
      assert(d.contains("user_id") && d.contains("day"),
        s"range predicates not pushed to the scan ($d)")
    }
    val live = CommitLogIngest.liveFiles(s, table,
      CommitLogIngest.latestVersion(table))
    assert(files.size < live.size,
      s"window read opened ${files.size} of ${live.size} files")
  }

  test("z-layout census reconciles with the original events table") {
    val s = spark
    val n = CommitLogIngest.snapshot(s,
      OptimizeCommit.ensureEvents(s, sf0001)).count()
    val nOrig = graft.model.Tables.events(s, sf0001).count()
    assert(n == nOrig, s"z-order rewrite changed row count: $nOrig -> $n")
  }

  test("regenerated events rebuild the z-layout (fingerprint staleness)") {
    val s = spark
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-zorder-stale")
    dir.toFile.deleteOnExit()
    val d = dir.toString

    def write(nUsers: Int): Unit =
      (0 until 400).map { i =>
        (i.toLong, new Timestamp(1704067200000L + i.toLong * 3600000L),
          (i % nUsers).toLong, "click", 1.0, "{}")
      }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .coalesce(1)
        .write.mode("overwrite").parquet(s"$d/events.parquet")

    def maxUser(): Long =
      CommitLogIngest.snapshot(s, OptimizeCommit.ensureEvents(s, d))
        .agg(max("user_id")).head().getLong(0)

    write(nUsers = 5)
    val users1 = maxUser()
    assert(users1 == 4, s"expected max user 4, got $users1")

    write(nUsers = 9)
    val users2 = maxUser()
    assert(users2 == 8,
      s"stale z-layout served after source regeneration (max user $users2)")
  }
}
