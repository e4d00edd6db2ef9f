package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._

import graft.streaming.CommitLogIngest

/** Deletion vectors — merge-on-read DELETE through the commit log (the
  * Delta `delta.enableDeletionVectors` shape). What a 100-TB user needs
  * pinned:
  *
  *  - a DV delete is PURE METADATA + positions: no data file moves, the
  *    commit carries `("dv", file)` actions and `(path, pos)` rows;
  *  - every read surface applies live masks — API snapshot, V2 batch
  *    (row mode forced while a mask is live), pointRead, time travel
  *    pinned BELOW the mask stays pre-delete;
  *  - composed deletes never re-record a position; NULL predicates keep
  *    rows (SQL semantics);
  *  - CoW DML and OPTIMIZE read through masks and MATERIALIZE them as
  *    they retire the files (restoring the columnar fast path);
  *  - vacuum's reclaim rule for masks is LIVENESS, not age: a mask
  *    whose file any retained version still reads must survive;
  *  - incremental consumers: a dv version is a CHANGE commit (fail by
  *    default / skipChangeCommits), changeFeed reconstructs the exact
  *    deleted rows from the mask without stored CDF, and the V2 CDF
  *    surface serves stored rows when CDF is on. */
class DeletionVectorSpec extends SparkSuite {

  private def tmp(prefix: String): String = {
    val d = java.nio.file.Files.createTempDirectory(s"graft-dv-$prefix")
    d.toFile.deleteOnExit()
    d.toString + "/t"
  }

  private def appendRows(table: String, from: Long, n: Long,
      enableCdf: Boolean = false): Unit = {
    val s = spark
    import s.implicits._
    val w = (from until from + n).map(i => (i, s"p$i", i * 10))
      .toDF("id", "p", "n")
      .write.format("graft-commitlog").option("path", table)
      .option("statsCol", "id").option("enableDv", "true")
      .mode("append")
    (if (enableCdf) w.option("enableCdf", "true") else w).save()
  }

  private def v2(table: String) =
    spark.read.format("graft-commitlog").option("path", table).load()

  private def ids(df: org.apache.spark.sql.DataFrame): Seq[Long] =
    df.select("id").collect().map(_.getLong(0)).sorted.toSeq

  test("DV delete is metadata-only: same files, masked rows gone on " +
      "every surface, pinned reader unaffected") {
    val s = spark
    val table = tmp("basic")
    appendRows(table, 0L, 100L)
    appendRows(table, 100L, 100L)
    assert(CommitLogIngest.dvEnabled(table))
    val before = CommitLogIngest.latestVersion(table)
    val filesBefore = CommitLogIngest.liveFiles(s, table, before)

    val (dv, nMasked) = CommitLogIngest.deleteWhere(s, table,
      col("id") % 7 === 3, statsCol = Some("id"))
    assert(dv == before + 1 && nMasked > 0)
    // no data file moved: the live FILE set is identical
    assert(CommitLogIngest.liveFiles(s, table, dv) == filesBefore)
    assert(Files.exists(Paths.get(CommitLogIngest.dvDir(table, dv))))

    val expect = (0L until 200L).filter(_ % 7 != 3)
    assert(ids(CommitLogIngest.snapshot(s, table)) == expect)
    // V2 surface: same rows, row mode forced while the mask is live
    assert(ids(v2(table)) == expect)
    assert(!scansColumnar(v2(table)),
      "a live mask must force the scan onto the position-aware row path")
    // pushed filter on a masked file: exact — nothing resurrected, and
    // the dead row inside the filter range stays dead
    assert(ids(v2(table).filter(col("id") >= 7L && col("id") <= 31L)) ==
      (7L to 31L).filter(_ % 7 != 3))
    // pointRead prunes through the index, mask still applies
    assert(CommitLogIngest.pointRead(s, table, "id", 10L).count() == 0L)
    assert(CommitLogIngest.pointRead(s, table, "id", 11L).count() == 1L)
    // time travel below the mask: pre-delete snapshot intact
    assert(CommitLogIngest.snapshot(s, table, before).count() == 200L)
    // history names the operation
    val h = CommitLogIngest.history(s, table)
      .filter(col("version") === dv).collect()(0)
    assert(h.getAs[String]("operation") == "delete-dv")
    assert(h.getAs[Long]("n_masked") == nMasked.toLong)
  }

  test("composed DV deletes: no position re-recorded, NULL pred keeps, " +
      "no-match commits nothing") {
    val s = spark
    import s.implicits._
    val table = tmp("compose")
    appendRows(table, 0L, 100L)
    val (dv1, _) = CommitLogIngest.deleteWhere(s, table, col("id") < 10L)
    // overlapping predicate: ids < 20 — ids < 10 are ALREADY dead, so
    // dv2's mask must carry only the 10 new positions
    val (dv2, _) = CommitLogIngest.deleteWhere(s, table, col("id") < 20L)
    assert(ids(CommitLogIngest.snapshot(s, table)) == (20L until 100L))
    assert(ids(v2(table)) == (20L until 100L))
    val mask2 = s.read.parquet(CommitLogIngest.dvDir(table, dv2))
    assert(mask2.count() == 10L,
      "second delete must record only newly-dead positions")
    // a version pinned between the masks sees only the first
    assert(ids(CommitLogIngest.snapshot(s, table, dv1)) == (10L until 100L))
    // NULL predicate keeps the row (SQL semantics)
    val nullTable = tmp("null")
    Seq((1L, "a"), (2L, null.asInstanceOf[String]), (3L, "c"))
      .toDF("id", "tag")
      .write.format("graft-commitlog").option("path", nullTable)
      .option("enableDv", "true").mode("append").save()
    CommitLogIngest.deleteWhere(s, nullTable, col("tag") === "a")
    assert(ids(CommitLogIngest.snapshot(s, nullTable)) == Seq(2L, 3L))
    // matching nothing commits nothing
    val vBefore = CommitLogIngest.latestVersion(table)
    assert(CommitLogIngest.deleteWhere(s, table, col("id") === -1L) ==
      (-1L, 0))
    assert(CommitLogIngest.latestVersion(table) == vBefore)
  }

  test("CoW UPDATE and MERGE read through masks and materialize them") {
    val s = spark
    import s.implicits._
    val table = tmp("cow")
    appendRows(table, 0L, 100L)
    CommitLogIngest.deleteWhere(s, table, col("id") % 10 === 0)
    // UPDATE on a DV-enabled table routes merge-on-read since round 13,
    // so flip the per-table switch OFF to pin the COPY-ON-WRITE rewrite
    // reading through a live mask (the dv-update face has its own test):
    // the rewrite materializes the masks — masked rows must neither
    // reappear nor be updated
    CommitLogIngest.setDvEnabled(table, on = false)
    CommitLogIngest.updateWhere(s, table, col("id") % 2 === 0,
      Map("n" -> (col("n") + 1)), statsCol = Some("id"))
    CommitLogIngest.setDvEnabled(table)
    val (files, dvs) = CommitLogIngest.liveState(s, table,
      CommitLogIngest.latestVersion(table))
    assert(dvs.isEmpty, "rewritten files must shed their masks")
    val snap = CommitLogIngest.snapshot(s, table)
    assert(ids(snap) == (0L until 100L).filter(_ % 10 != 0))
    // updated values correct on survivors only
    val n4 = snap.filter(col("id") === 4L).collect()(0).getAs[Long]("n")
    assert(n4 == 41L)
    // merge: a key alive only as a MASKED row is an INSERT, not an update
    val table2 = tmp("merge")
    appendRows(table2, 0L, 50L)
    CommitLogIngest.deleteWhere(s, table2, col("id") === 7L)
    val up = Seq((7L, "resurrected", 700L), (8L, "updated", 800L))
      .toDF("id", "p", "n")
    CommitLogIngest.mergeByKey(s, table2, up, "id")
    val m = CommitLogIngest.snapshot(s, table2)
      .filter(col("id").isin(7L, 8L))
      .select("id", "p").collect().map(r => r.getLong(0) -> r.getString(1))
      .toMap
    assert(m == Map(7L -> "resurrected", 8L -> "updated"))
    assert(CommitLogIngest.snapshot(s, table2).count() == 50L)
  }

  test("OPTIMIZE materializes masks (purge): census unchanged, columnar " +
      "path restored, vacuum then reclaims the mask — but never before") {
    val s = spark
    val table = tmp("purge")
    appendRows(table, 0L, 100L)
    appendRows(table, 100L, 100L)
    val (dv, _) = CommitLogIngest.deleteWhere(s, table, col("id") % 3 === 0)
    val expect = (0L until 200L).filter(_ % 3 != 0)

    // vacuum at a floor ABOVE the mask version must keep the mask (the
    // masked file is still live — dropping it would resurrect the rows)
    CommitLogIngest.vacuum(s, table, dv)
    assert(Files.exists(Paths.get(CommitLogIngest.dvDir(table, dv))),
      "a mask whose file is live at a retained version must survive vacuum")
    assert(ids(CommitLogIngest.snapshot(s, table)) == expect)

    // OPTIMIZE treats masked files as always-eligible and rewrites them
    val (ov, nIn, _) = CommitLogIngest.optimize(s, table,
      statsCol = Some("id"))
    assert(ov > 0 && nIn > 0)
    val (_, dvsAfter) = CommitLogIngest.liveState(s, table, ov)
    assert(dvsAfter.isEmpty, "OPTIMIZE must materialize every mask")
    assert(ids(CommitLogIngest.snapshot(s, table)) == expect)
    assert(ids(v2(table)) == expect)
    assert(scansColumnar(v2(table)),
      "materialized masks must restore the columnar fast path")
    // now the mask is dead (no retained version reads it at the floor)
    val dropped = CommitLogIngest.vacuum(s, table, ov)
    assert(!Files.exists(Paths.get(CommitLogIngest.dvDir(table, dv))),
      s"dead mask must be reclaimed (dropped: $dropped)")
    assert(ids(CommitLogIngest.snapshot(s, table)) == expect)
  }

  test("incremental consumers: dv version is a change commit; changeFeed " +
      "reconstructs exact deleted rows without stored CDF") {
    val s = spark
    val table = tmp("feed")
    appendRows(table, 0L, 100L)
    val v0 = CommitLogIngest.latestVersion(table)
    val (dv, _) = CommitLogIngest.deleteWhere(s, table, col("id") < 5L)
    appendRows(table, 100L, 10L)
    val vEnd = CommitLogIngest.latestVersion(table)
    // fail-by-default (the Delta rule)
    val e = intercept[IllegalStateException] {
      CommitLogIngest.changes(s, table, v0, vEnd).count()
    }
    assert(e.getMessage.contains("CHANGE commits"))
    // skip delivers the pure appends only
    assert(ids(CommitLogIngest.changes(s, table, v0, vEnd,
      skipChangeCommits = true)) == (100L until 110L))
    // changeFeed: the dv version's deletes are the exact masked rows,
    // reconstructed from the mask itself (no stored CDF on this table)
    val feed = CommitLogIngest.changeFeed(s, table, dv - 1, dv)
    assert(feed.select("_change_type").distinct().collect()
      .map(_.getString(0)).toSeq == Seq("delete"))
    assert(ids(feed) == (0L until 5L))
    // V2 stored-CDF surface refuses without stored rows, naming the switch
    val e2 = intercept[Exception] {
      s.read.format("graft-commitlog").option("path", table)
        .option("readChangeFeed", "true")
        .option("startingVersion", dv.toString).load().count()
    }
    def chain(t: Throwable): Seq[String] =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
        .map(_.getMessage).toSeq
    assert(chain(e2).exists(m => m != null && m.contains("setCdfEnabled")))
    // with CDF enabled, the stored rows serve the V2 surface and agree
    // with the reconstruction
    val table2 = tmp("feedcdf")
    appendRows(table2, 0L, 100L, enableCdf = true)
    val (dv2, _) = CommitLogIngest.deleteWhere(s, table2, col("id") < 5L)
    val stored = s.read.format("graft-commitlog").option("path", table2)
      .option("readChangeFeed", "true")
      .option("startingVersion", dv2.toString).load()
    assert(ids(stored.filter(col("_change_type") === "delete")) ==
      (0L until 5L))
    assert(ids(CommitLogIngest.changeFeed(s, table2, dv2 - 1, dv2)) ==
      (0L until 5L))
  }

  test("an overwrite's change feed excludes rows a mask already " +
      "reported dead — API and V2 surfaces") {
    val s = spark
    import s.implicits._
    val table = tmp("ovw")
    appendRows(table, 0L, 100L)
    val (dv, _) = CommitLogIngest.deleteWhere(s, table, col("id") < 30L)
    // INSERT OVERWRITE: the overwrite version's deletes must be the
    // LIVE pre-overwrite rows (30..99), not the raw file contents —
    // ids < 30 were already reported dead at the dv version
    Seq((1000L, "z", 0L)).toDF("id", "p", "n")
      .write.format("graft-commitlog").option("path", table)
      .mode("overwrite").save()
    val ov = CommitLogIngest.latestVersion(table)
    val feed = CommitLogIngest.changeFeed(s, table, ov - 1, ov)
    assert(ids(feed.filter(col("_change_type") === "delete")) ==
      (30L until 100L),
      "overwrite deletes must apply the pre-commit mask")
    assert(ids(feed.filter(col("_change_type") === "insert")) ==
      Seq(1000L))
    // the V2 surface ships the mask positions in its partitions
    val v2feed = s.read.format("graft-commitlog").option("path", table)
      .option("readChangeFeed", "true")
      .option("startingVersion", ov.toString).load()
    assert(ids(v2feed.filter(col("_change_type") === "delete")) ==
      (30L until 100L))
    assert(!scansColumnar(v2feed))
    // and the cumulative feed (dv deletes + overwrite) nets to the
    // final table: every original row dies exactly once
    val all = CommitLogIngest.changeFeed(s, table, dv - 1, ov)
    val deadTwice = all.filter(col("_change_type") === "delete")
      .groupBy("id").count().filter(col("count") > 1).count()
    assert(deadTwice == 0L, "no row may be reported dead twice")
  }

  test("masks survive checkpoint resolution and log retention") {
    val s = spark
    val table = tmp("ckpt")
    appendRows(table, 0L, 40L)
    val (dv, _) = CommitLogIngest.deleteWhere(s, table, col("id") % 4 === 1)
    // drive past the next checkpoint boundary so resolution goes
    // checkpoint-first (CheckpointEvery = 10)
    var next = 100L
    while (CommitLogIngest.latestVersion(table) <
        dv + CommitLogIngest.CheckpointEvery + 2) {
      appendRows(table, next, 10L)
      next += 10L
    }
    val latest = CommitLogIngest.latestVersion(table)
    val expect = ((0L until 40L) ++ (100L until next))
      .filterNot(i => i < 40L && i % 4 == 1)
    assert(ids(CommitLogIngest.snapshot(s, table)) == expect,
      "mask must survive checkpoint-first resolution")
    val (_, dvs) = CommitLogIngest.liveState(s, table, latest)
    assert(dvs.nonEmpty, "dv actions must ride the checkpoint")
    assert(ids(v2(table)) == expect)
  }

  test("DV delete-all parity with CoW: a fully-masked table is empty but " +
      "readable, and OPTIMIZE materializes it (round-12 ADVICE resolution)") {
    val s = spark
    // the read invariant is ≥ 1 live FILE, never ≥ 1 live row: CoW
    // delete-all leaves one 0-row rewrite file (CommitLogSqlSpec pins it
    // through SQL); the DV path reaches the same logical end state by
    // masking every position — both must stay readable with the schema
    // intact, or the two DELETE routes would diverge on the same statement
    val dvT = tmp("delall")
    appendRows(dvT, 0L, 50L)
    val filesBefore = CommitLogIngest.liveFiles(s, dvT,
      CommitLogIngest.latestVersion(dvT))
    val (v, masked) = CommitLogIngest.deleteWhereDv(s, dvT, lit(true))
    assert(v > 0 && masked == filesBefore.size)
    assert(CommitLogIngest.liveFiles(s, dvT, v) == filesBefore,
      "delete-all via DV must move no data files")
    val snap = CommitLogIngest.snapshot(s, dvT)
    assert(snap.count() == 0L, "fully-masked table must read as empty")
    assert(snap.columns.toSeq == Seq("id", "p", "n"),
      "schema must survive the full mask")
    assert(v2(dvT).count() == 0L, "V2 scan must agree")
    // time travel below the mask still sees the data
    assert(CommitLogIngest.snapshot(s, dvT, v - 1).count() == 50L)
    // appends keep working, and OPTIMIZE purges the mask into clean files
    appendRows(dvT, 200L, 10L)
    assert(ids(CommitLogIngest.snapshot(s, dvT)) == (200L until 210L))
    val (ov, _, _) = CommitLogIngest.optimize(s, dvT,
      statsCol = Some("id"))
    assert(ov > 0)
    assert(ids(CommitLogIngest.snapshot(s, dvT)) == (200L until 210L))
    val (_, dvsAfter) = CommitLogIngest.liveState(s, dvT,
      CommitLogIngest.latestVersion(dvT))
    assert(dvsAfter.isEmpty, "OPTIMIZE must retire the full mask")
  }

  test("DV UPDATE is merge-on-read: mask + re-append in ONE version, " +
      "no original file moves, every surface agrees, OPTIMIZE purges") {
    val s = spark
    val table = tmp("upd")
    appendRows(table, 0L, 100L, enableCdf = true)
    appendRows(table, 100L, 100L, enableCdf = true)
    val before = CommitLogIngest.liveFiles(s, table, 1L).toSet
    // routes through updateWhere (the per-table switch, like DELETE)
    val (v, masked) = CommitLogIngest.updateWhere(s, table,
      col("id") % 40 === 7, Map("n" -> (col("n") + lit(100000))),
      statsCol = Some("id"))
    assert(v == 2L, s"DV update must land as ONE version, got $v")
    assert(masked > 0)
    val (liveAfter, dvs) = CommitLogIngest.liveState(s, table, v)
    assert(before.subsetOf(liveAfter.toSet),
      "merge-on-read UPDATE must not move original data files")
    assert(dvs.nonEmpty, "the update must record a mask")
    // the version carries BOTH dv actions and add actions atomically
    val acts = s.read.parquet(s"$table/log/version=$v")
      .select("action").collect().map(_.getString(0)).toSet
    assert(acts.contains("dv") && acts.contains("add"), s"actions: $acts")
    // updated values visible on API and V2 surfaces; row count unchanged
    def updatedIds(df: org.apache.spark.sql.DataFrame) =
      df.filter(col("n") >= 100000L).select("id").collect()
        .map(_.getLong(0)).sorted.toSeq
    val want = (0L until 200L).filter(_ % 40 == 7)
    assert(CommitLogIngest.snapshot(s, table).count() == 200L)
    assert(updatedIds(CommitLogIngest.snapshot(s, table)) == want)
    assert(updatedIds(v2(table)) == want)
    // pinned below the update: pre-update values
    assert(CommitLogIngest.snapshot(s, table, v - 1)
      .filter(col("n") >= 100000L).count() == 0L)
    // CDF pre/post images exact
    val feed = CommitLogIngest.changeFeed(s, table, v - 1, v)
      .select("id", "n", "_change_type").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    assert(feed == want.flatMap(i => Seq(
      (i, i * 10, "update_preimage"),
      (i, i * 10 + 100000L, "update_postimage"))).toSet,
      s"wrong change rows: $feed")
    // a composed DV delete sees the UPDATED values (id 7: n 70 → 100070)
    // and kills the post-image, not the masked pre-image
    val (vDel, _) = CommitLogIngest.deleteWhere(s, table,
      col("n") === 100070L, statsCol = Some("id"))
    assert(vDel == v + 1)
    assert(CommitLogIngest.snapshot(s, table).count() == 199L)
    assert(!updatedIds(CommitLogIngest.snapshot(s, table)).contains(7L))
    // restore to the post-update state for the OPTIMIZE leg below
    CommitLogIngest.restore(s, table, v)
    // OPTIMIZE materializes mask + appended rows into clean files
    val (ov, _, _) = CommitLogIngest.optimize(s, table,
      statsCol = Some("id"))
    assert(ov > v)
    assert(updatedIds(CommitLogIngest.snapshot(s, table)) == want)
    assert(CommitLogIngest.snapshot(s, table).count() == 200L)
    assert(CommitLogIngest.liveState(s, table,
      CommitLogIngest.latestVersion(table))._2.isEmpty,
      "OPTIMIZE must retire the update's mask")
    // a type-widening set refuses without mutating (same rule as CoW)
    val pre = CommitLogIngest.latestVersion(table)
    intercept[IllegalArgumentException] {
      CommitLogIngest.updateWhere(s, table, col("id") === 1L,
        Map("n" -> concat(col("n").cast("string"), lit("x"))),
        statsCol = Some("id"))
    }
    assert(CommitLogIngest.latestVersion(table) == pre)
  }

  test("timestampAsOf resolves against the claim-time marker, not dir " +
      "mtime: a post-claim touch of the version dir cannot move history") {
    val s = spark
    val table = tmp("claimts")
    appendRows(table, 0L, 10L)
    Thread.sleep(1100) // second-granular mtime on some filesystems
    val between = System.currentTimeMillis()
    Thread.sleep(1100)
    appendRows(table, 10L, 10L)
    assert(CommitLogIngest.versionAt(table, between) == 0L)
    // a later touch of version 0's dir (backup tooling, fs crawlers)
    // must not re-date the commit — the round-12 ADVICE failure mode
    java.nio.file.Files.setLastModifiedTime(
      Paths.get(s"$table/log/version=0"),
      java.nio.file.attribute.FileTime.fromMillis(
        System.currentTimeMillis() + 3600000L))
    assert(CommitLogIngest.versionAt(table, between) == 0L,
      "dir mtime must not override the claim-time marker")
    assert(Files.exists(Paths.get(s"$table/log/version=0/_commit_ms")),
      "the winning claim must stamp its commit instant")
  }
}
