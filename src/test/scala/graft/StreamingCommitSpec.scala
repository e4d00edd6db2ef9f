package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.StreamingQuery

import graft.sources.{CommitLogWrite, LayoutDirs}
import graft.streaming.CommitLogIngest

/** The streaming commit contract of the `graft-commitlog` sink: one
  * version per epoch, snapshot isolation for pinned readers, the txn
  * guard that makes a replayed epoch a no-op, unclaimed files left for
  * vacuum, and checkpoint-restart continuity. */
class StreamingCommitSpec extends SparkSuite {

  private def tmp(prefix: String): String = {
    val d = java.nio.file.Files.createTempDirectory(s"graft-commit-$prefix")
    d.toFile.deleteOnExit()
    d.toString
  }

  /** A `graft-commitlog` sink stream of `stream` as (id, payload). */
  private def sink(stream: MemoryStream[(Long, String)], table: String,
      ckpt: String, statsCol: Option[String] = None): StreamingQuery = {
    val w = stream.toDF().toDF("id", "payload")
      .writeStream.format("graft-commitlog").option("path", table)
      .option("checkpointLocation", ckpt)
    statsCol.fold(w)(k => w.option("statsCol", k)).start()
  }

  /** Files written into `w`'s dir for `epoch` and never committed: what
    * a sink task leaves when the driver dies before the claim. */
  private def unclaimed(w: CommitLogWrite, epoch: Long,
      rows: DataFrame): Seq[String] = {
    rows.coalesce(1).write.mode("overwrite").parquet(w.epochDir(epoch))
    LayoutDirs.dataFiles(w.epochDir(epoch))
  }

  test("commits isolate pinned readers, heal both crash windows, survive restart") {
    val s = spark
    import s.implicits._
    implicit val sc = s.sqlContext
    val table = tmp("table")
    val ckpt = tmp("ckpt")
    val stream = MemoryStream[(Long, String)]

    val q1 = sink(stream, table, ckpt)
    val pinned =
      try {
        stream.addData(Seq((1L, "a"), (2L, "b")))
        q1.processAllAvailable()
        assert(CommitLogIngest.snapshot(s, table).count() == 2)
        val pin = s.read.parquet(s"$table/log")
          .agg(max(col("version")).cast("long")).head().getLong(0)
        stream.addData(Seq((3L, "c")))
        q1.processAllAvailable()
        // latest sees the full prefix; the pinned version is untouched
        assert(CommitLogIngest.snapshot(s, table).count() == 3)
        assert(CommitLogIngest.snapshot(s, table, pin).count() == 2)
        pin
      } finally q1.stop()

    // a replayed (queryId, epoch): the txn guard commits nothing
    val qid = q1.id.toString
    val last = CommitLogIngest.latestVersion(table)
    assert(last > pinned)
    val epoch = CommitLogIngest.lastTxnEpoch(s, table, qid)
    assert(epoch >= 1L)
    val poison = Seq((99L, "poison")).toDF("id", "payload")
    def write() =
      new CommitLogWrite(table, poison.schema, qid, overwrite = false, None)
    assert(!CommitLogIngest.commitEpoch(s, table,
      unclaimed(write(), epoch, poison), statsCol = None, statsDir = None,
      schemaOf = Some(poison.schema), queryId = qid, epochId = epoch),
      "a replayed epoch committed")
    assert(CommitLogIngest.latestVersion(table) == last,
      "a replayed epoch landed a version")
    assert(CommitLogIngest.snapshot(s, table).count() == 3)

    // a crash between the data write and the claim: no version references
    // the epoch's files, so no read sees them; vacuum keeps them while a
    // claim could still be on its way, and reclaims them after that
    val orphans = unclaimed(write(), epoch + 1, poison)
    val added = s.read.parquet(s"$table/log")
      .filter(col("action") === "add").select("path").as[String]
      .collect().toSet
    assert(orphans.nonEmpty && !orphans.exists(added))
    assert(CommitLogIngest.snapshot(s, table)
      .filter(col("payload") === "poison").isEmpty,
      "an unclaimed file reached a read")
    assert(!CommitLogIngest.vacuum(s, table, 0L).exists(orphans.contains),
      "vacuum reclaimed a write younger than the orphan grace")
    val crashedAt = java.nio.file.attribute.FileTime.fromMillis(
      System.currentTimeMillis() - CommitLogIngest.OrphanGraceMs - 60000L)
    orphans.foreach(p => Files.setLastModifiedTime(Paths.get(p), crashedAt))
    val reclaimed = CommitLogIngest.vacuum(s, table, 0L)
    assert(orphans.forall(reclaimed.contains) &&
      orphans.forall(p => !Files.exists(Paths.get(p))),
      s"vacuum left unclaimed files: $reclaimed")
    assert(CommitLogIngest.snapshot(s, table).count() == 3,
      "vacuum touched a committed file")

    // restart from the same checkpoint: epochs continue, no duplicates
    val q2 = sink(stream, table, ckpt)
    try {
      stream.addData(Seq((4L, "d")))
      q2.processAllAvailable()
      val snap = CommitLogIngest.snapshot(s, table)
      assert(snap.count() == 4)
      assert(snap.select("id").as[Long].collect().sorted.toSeq ==
        Seq(1L, 2L, 3L, 4L))
      val versions = s.read.parquet(s"$table/log")
        .select("version").distinct().count()
      assert(versions >= 3, "restart collapsed versions")
    } finally q2.stop()
  }

  test("contract guards: empty tables, missing index, tombstoned empty batches, pruned mid-stream ranges") {
    val s = spark
    import s.implicits._
    val table = tmp("guards")

    // no committed version: a loud contract error, not a raw path error
    val e0 = intercept[IllegalStateException] {
      CommitLogIngest.snapshot(s, table).count()
    }
    assert(e0.getMessage.contains("no committed version"))

    // two data commits, no statsCol: pointRead names the missing index
    assert(CommitLogIngest.commitAppend(
      Seq((1L, "a")).toDF("id", "p"), table) == 0L)
    assert(CommitLogIngest.commitAppend(
      Seq((2L, "b")).toDF("id", "p"), table) == 1L)
    val e1 = intercept[IllegalStateException] {
      CommitLogIngest.pointRead(s, table, "id", 1L).count()
    }
    assert(e1.getMessage.contains("without statsCol"))

    // an EMPTY sink epoch lands a version with its txn action only: the
    // version is on disk (no gap), counts as committed, and adds no rows
    // to any read
    assert(CommitLogIngest.commitEpoch(s, table, adds = Seq.empty,
      statsCol = None, statsDir = None,
      schemaOf = Some(Seq((0L, "")).toDF("id", "p").schema),
      queryId = "idle", epochId = 0L))
    assert(graft.sources.LayoutDirs.hasParquetData(s"$table/log/version=2"))
    assert(CommitLogIngest.latestVersion(table) == 2L)
    assert(CommitLogIngest.snapshot(s, table).count() == 2)
    // a poll covering ONLY the empty epoch is a zero-row batch with the
    // table's schema, not an error
    val only = CommitLogIngest.changes(s, table, 1L, 2L)
    assert(only.isEmpty && only.columns.toSeq == Seq("id", "p"))

    // retention past a mid-stream consumer: build past a checkpoint
    // boundary, prune a version at the floor, then poll across it
    val every = CommitLogIngest.CheckpointEvery.toInt
    (3 until every + 2).foreach { v =>
      assert(CommitLogIngest.commitAppend(
        Seq((v.toLong, s"v$v")).toDF("id", "p"), table) == v.toLong)
    }
    assert(CommitLogIngest.lastCheckpoint(table) == every - 1)
    graft.sources.LayoutDirs.deleteQuiet(s"$table/log/version=5")
    val e2 = intercept[IllegalArgumentException] {
      CommitLogIngest.changes(s, table, 3L, every.toLong).count()
    }
    assert(e2.getMessage.contains("retention-pruned"),
      s"wrong failure for a pruned mid-stream range: ${e2.getMessage}")
    // a fresh consumer is unaffected: it composes from the checkpoint,
    // which still references v5's DATA file (dropping the log partition
    // is metadata retention, not data deletion) — 11 one-row data
    // versions (0..11 minus the empty epoch at 2)
    assert(CommitLogIngest.changes(s, table, -1L, every.toLong + 1)
      .count() == every.toLong + 1)
  }

  test("plainPath decodes local file URIs; remote schemes fail loudly, never silently mismatch") {
    val s = spark
    import s.implicits._
    import graft.sources.LayoutDirs
    val got = Seq("file:/tmp/a%20b/part.parquet", "/plain/path.parquet",
      "file:///x/c%2Bd.parquet")
      .toDF("p").select(LayoutDirs.plainPath(col("p"))).as[String]
      .collect().toSeq
    assert(got == Seq("/tmp/a b/part.parquet", "/plain/path.parquet",
      "/x/c+d.parquet"))
    val e = intercept[Exception] {
      Seq("s3a://bucket/k.parquet").toDF("p")
        .select(LayoutDirs.plainPath(col("p"))).collect()
    }
    assert(e.getMessage != null && e.getMessage.contains("non-local URI"),
      s"remote scheme did not fail with the contract message: $e")
  }

  test("commit-time stats index tracks every commit; point read opens one file") {
    val s = spark
    import s.implicits._
    implicit val sc = s.sqlContext
    val table = tmp("stats-table")
    val ckpt = tmp("stats-ckpt")
    val stream = MemoryStream[(Long, String)]
    val q = sink(stream, table, ckpt, statsCol = Some("id"))
    try {
      (0 until 8).foreach { w =>
        stream.addData((0 until 100).map(i => (w * 100L + i, s"p$w-$i")))
        q.processAllAvailable()
      }
    } finally q.stop()
    // the index agrees with a recompute over the live files
    val live = CommitLogIngest
      .liveFiles(s, table, CommitLogIngest.latestVersion(table))
    val indexed = s.read.parquet(s"$table/index")
      .filter(col("path").isin(live: _*))
      .collect().map(r => r.getAs[String]("path") ->
        (r.getAs[Long]("min_key"), r.getAs[Long]("max_key"),
          r.getAs[Long]("rows"))).toMap
    val truth = s.read.parquet(live: _*)
      .groupBy(input_file_name().as("path"))
      .agg(min(col("id")), max(col("id")), count(lit(1)))
      .collect().map(r => new java.net.URI(r.getString(0)).getPath ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(indexed == truth,
      "commit-time index diverged from the live files' stats")
    // waves carry disjoint id ranges, so a point read opens at most ONE
    // wave's files (a wave may split across a few overlapping part files)
    val perWave = math.max(1, (live.size + 7) / 8)
    val hit = CommitLogIngest.pointRead(s, table, "id", 250L)
    assert(hit.count() == 1)
    assert(hit.inputFiles.length <= perWave,
      s"point read opened ${hit.inputFiles.length} of ${live.size} files " +
        s"(one wave is <= $perWave)")
    // a key outside every file's range is an empty result, not an error
    assert(CommitLogIngest.pointRead(s, table, "id", 999999L).count() == 0)
    // the change feed: an incremental consumer polling one version at a
    // time sees every row exactly once and reconstructs the snapshot
    val latest = CommitLogIngest.latestVersion(table)
    val polled = (0L to latest).map { v =>
      CommitLogIngest.changes(s, table, v - 1, v)
        .select("id").as[Long].collect().toSeq
    }
    assert(polled.forall(_.nonEmpty) && polled.map(_.size).sum == 800)
    assert(polled.flatten.sorted == (0L until 800L),
      "change feed lost or duplicated rows across versions")
    // each poll reads only its version's files
    val oneVersion = CommitLogIngest.changes(s, table, latest - 1, latest)
    assert(oneVersion.inputFiles.length <= perWave,
      "a one-version poll read more than that version's files")
  }

  test("log checkpoint bounds the log read and makes old partitions retention") {
    val s = spark
    import s.implicits._
    implicit val sc = s.sqlContext
    val table = tmp("ckpt-table")
    val ckpt = tmp("ckpt-ckpt")
    val stream = MemoryStream[(Long, String)]
    val q = sink(stream, table, ckpt)
    val waves = (CommitLogIngest.CheckpointEvery + 2).toInt
    try {
      (0 until waves).foreach { i =>
        stream.addData(Seq((i.toLong, s"w$i")))
        q.processAllAvailable()
      }
    } finally q.stop()
    val c = CommitLogIngest.lastCheckpoint(table)
    assert(c == CommitLogIngest.CheckpointEvery - 1,
      s"expected a checkpoint at ${CommitLogIngest.CheckpointEvery - 1}, got $c")
    // checkpoint + tail resolves the same live set as a full log replay
    val latest = waves.toLong - 1
    val viaCkpt = CommitLogIngest.liveFiles(s, table, latest)
    assert(CommitLogIngest.snapshot(s, table).count() == waves.toLong)
    // the tail read is a partition prune: only version > c dirs are opened
    val tailRead = s.read.parquet(s"$table/log").filter(col("version") > c)
    tailRead.collect()
    val tailScans = unwrapPlan(tailRead.queryExecution.executedPlan)
      .collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec => f
      }
    assert(tailScans.nonEmpty, "no scan over the log found")
    tailScans.foreach { f =>
      assert(f.partitionFilters.map(_.sql).mkString(" ").contains("version"),
        "tail log read plans no version partition filter")
      assert(f.selectedPartitions.partitionCount == waves - 1 - c.toInt,
        s"tail log read selected ${f.selectedPartitions.partitionCount} " +
          s"partitions, wanted ${waves - 1 - c.toInt} (versions > $c)")
    }
    // retention: delete every log partition <= c; the latest snapshot must
    // survive on checkpoint + tail alone
    (0L to c).foreach { v =>
      graft.sources.LayoutDirs.deleteQuiet(s"$table/log/version=$v")
    }
    assert(CommitLogIngest.liveFiles(s, table, latest) == viaCkpt,
      "live set changed after pre-checkpoint log retention")
    val snap = CommitLogIngest.snapshot(s, table)
    assert(snap.count() == waves.toLong,
      "latest snapshot lost rows after pre-checkpoint log retention")
    assert(snap.select("id").as[Long].collect().sorted.toSeq ==
      (0 until waves).map(_.toLong))
    // the stream continues PAST the next checkpoint boundary on the
    // retained log: the new checkpoint must resolve from the previous
    // checkpoint + tail (the Delta rule) — a full-log re-replay over the
    // pruned history would silently drop every pre-retention file
    val every = CommitLogIngest.CheckpointEvery.toInt
    val q2 = sink(stream, table, ckpt)
    try {
      (waves until 2 * every).foreach { i =>
        stream.addData(Seq((i.toLong, s"w$i")))
        q2.processAllAvailable()
      }
    } finally q2.stop()
    assert(CommitLogIngest.lastCheckpoint(table) == 2 * every - 1,
      "no checkpoint landed past the retention boundary")
    val snap2 = CommitLogIngest.snapshot(s, table)
    assert(snap2.count() == 2L * every,
      "post-retention checkpoint lost pre-retention files")
    assert(snap2.select("id").as[Long].collect().sorted.toSeq ==
      (0 until 2 * every).map(_.toLong))
    // a FRESH change-feed consumer starting on the retained log composes
    // its first poll from checkpoint + tail (append-only: cumulative
    // adds through the checkpoint ARE its live set)
    val fresh = CommitLogIngest.changes(s, table, -1L, 2L * every - 1)
      .select("id").as[Long].collect().sorted.toSeq
    assert(fresh == (0 until 2 * every).map(_.toLong),
      "fresh consumer on the retained log lost or duplicated rows")
    // time travel BELOW the latest checkpoint but above the retention
    // floor resolves through the older surviving checkpoint
    val mid = waves.toLong // a version between the two checkpoints
    assert(CommitLogIngest.snapshot(s, table, mid).count() == mid + 1,
      "read between checkpoints did not resolve via the older checkpoint")
    // below the oldest checkpoint the history is gone: loud, not partial
    val ex = intercept[IllegalStateException] {
      CommitLogIngest.snapshot(s, table, c - 5).count()
    }
    assert(ex.getMessage.contains("retention"),
      s"below-floor read failed for the wrong reason: ${ex.getMessage}")
    // a replay of the checkpoint epoch commits nothing, so it cannot
    // rewrite the checkpoint it would be reading from
    val ckptDir = s"$table/log_ckpt/c=${2 * every - 1}"
    val before2 = graft.sources.LayoutDirs.dataFiles(ckptDir)
      .map(p => p -> Files.size(Paths.get(p))).toMap
    val poison = Seq((999L, "poison")).toDF("id", "payload")
    val qid = q2.id.toString
    assert(CommitLogIngest.lastTxnEpoch(s, table, qid) == 2L * every - 1)
    assert(!CommitLogIngest.commitEpoch(s, table,
      unclaimed(new CommitLogWrite(table, poison.schema, qid,
        overwrite = false, None), 2L * every - 1, poison),
      statsCol = None, statsDir = None, schemaOf = Some(poison.schema),
      queryId = qid, epochId = 2L * every - 1),
      "the checkpoint-boundary replay committed")
    assert(CommitLogIngest.latestVersion(table) == 2L * every - 1)
    val after2 = graft.sources.LayoutDirs.dataFiles(ckptDir)
      .map(p => p -> Files.size(Paths.get(p))).toMap
    assert(after2 == before2,
      "checkpoint-boundary replay rewrote the checkpoint it reads from")
    assert(CommitLogIngest.snapshot(s, table).count() == 2L * every)
  }
}
