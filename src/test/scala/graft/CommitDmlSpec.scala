package graft

import org.apache.spark.sql.functions._

import graft.streaming.CommitLogIngest

/** Copy-on-write DELETE/UPDATE through the commit log — the physical
  * contracts the `src_delete_commit`/`src_update_commit` oracles cannot
  * see: minimal rewrite (clean files never move), SQL NULL semantics,
  * OCC against concurrent writers, and index maintenance. */
class CommitDmlSpec extends SparkSuite {

  private def tmp(prefix: String): String = {
    val d = java.nio.file.Files.createTempDirectory(s"graft-dml-$prefix")
    d.toFile.deleteOnExit()
    d.toString
  }

  /** 4 versions × 1 file, ids range-partitioned so predicates isolate
    * files: version v holds ids [v*100, v*100+99]. */
  private def build(table: String): Unit = {
    val s = spark
    import s.implicits._
    (0 until 4).foreach { v =>
      (0 until 100).map(i => (v * 100L + i, s"s$v"))
        .toDF("id", "src")
        .coalesce(1)
        .write.format("graft-commitlog").option("path", table)
        .option("statsCol", "id").mode("append").save()
    }
  }

  test("delete rewrites only the files containing matches; clean files never move") {
    val s = spark
    import s.implicits._
    val table = tmp("del") + "/t"
    build(table)
    val before = CommitLogIngest.snapshot(s, table).inputFiles.toSet
    // matches live only in version-1's file (ids 100-199)
    val (v, n) = CommitLogIngest.deleteWhere(s, table,
      col("id") >= 150L && col("id") < 160L, statsCol = Some("id"))
    assert(v == 4L && n == 1, s"expected 1 rewritten file, got $n at v$v")
    val after = CommitLogIngest.snapshot(s, table).inputFiles.toSet
    assert((before -- after).size == 1, "exactly one file replaced")
    assert((after -- before).size == 1, "exactly one file added")
    val ids = CommitLogIngest.snapshot(s, table)
      .select("id").as[Long].collect().sorted.toSeq
    assert(ids == ((0L until 150L) ++ (160L until 400L)),
      "delete removed exactly the matching rows")
    // the pre-delete version still reads complete
    assert(s.read.format("graft-commitlog").option("path", table)
      .option("versionAsOf", "3").load().count() == 400)
  }

  test("update rewrites matching rows only and carries neighbors unchanged; NULL pred keeps rows") {
    val s = spark
    import s.implicits._
    val table = tmp("upd") + "/t"
    build(table)
    val (v, n) = CommitLogIngest.updateWhere(s, table,
      col("id") % 100 === 7, Map("src" -> lit("touched")))
    assert(v == 4L && n == 4, s"all 4 files contain a match, got $n at v$v")
    val touched = CommitLogIngest.snapshot(s, table)
      .filter(col("src") === "touched")
      .select("id").as[Long].collect().sorted.toSeq
    assert(touched == Seq(7L, 107L, 207L, 307L))
    assert(CommitLogIngest.snapshot(s, table).count() == 400,
      "update must not change row count")

    // NULL predicate semantics: DELETE WHERE nullable keeps NULL rows
    val t2 = tmp("null") + "/t"
    Seq((1L, Some("a")), (2L, None), (3L, Some("b")))
      .toDF("id", "tag")
      .write.format("graft-commitlog").option("path", t2)
      .mode("append").save()
    CommitLogIngest.deleteWhere(s, t2, col("tag") === "a")
    val left = CommitLogIngest.snapshot(s, t2)
      .select("id").as[Long].collect().sorted.toSeq
    assert(left == Seq(2L, 3L), "NULL-pred rows must survive a delete")
  }

  test("a delete racing a concurrent append loses the claim and recomputes — no lost rows") {
    val s = spark
    import s.implicits._
    val table = tmp("race") + "/t"
    build(table)
    // interleave: a concurrent append lands while the delete is planning.
    // Both run on this JVM; the append thread commits first by racing the
    // (slower) delete's scan+rewrite window.
    val appender = new Thread(() => {
      (400 until 500).map(i => (i.toLong, "late")).toDF("id", "src")
        .coalesce(1)
        .write.format("graft-commitlog").option("path", table)
        .mode("append").save()
    })
    appender.start()
    val (v, _) = CommitLogIngest.deleteWhere(s, table,
      col("id") < 50L)
    appender.join()
    assert(v >= 4L, s"delete must commit, got $v")
    assert(CommitLogIngest.latestVersion(table) == 5L,
      "both the append and the delete must land, contiguously")
    val ids = CommitLogIngest.snapshot(s, table)
      .select("id").as[Long].collect().sorted.toSeq
    assert(ids == (50L until 500L),
      "the concurrent append's rows must survive the delete")
  }

  test("mergeByKey upserts: matched keys replaced in place, new keys inserted, one version") {
    val s = spark
    import s.implicits._
    val table = tmp("merge") + "/t"
    build(table) // ids 0-399 across 4 files, src s0-s3
    val updates = Seq(
      (150L, "UPDATED"), (151L, "UPDATED"), // live in version-1's file
      (900L, "NEW"), (901L, "NEW"))         // unmatched inserts
      .toDF("id", "src")
    val (v, n) = CommitLogIngest.mergeByKey(s, table, updates, "id",
      statsCol = Some("id"))
    assert(v == 4L && n == 1,
      s"only the file holding 150/151 should rewrite, got $n files at v$v")
    val snap = CommitLogIngest.snapshot(s, table)
    assert(snap.count() == 402, "2 replaced + 2 inserted")
    assert(snap.filter(col("src") === "UPDATED")
      .select("id").as[Long].collect().sorted.toSeq == Seq(150L, 151L))
    assert(snap.filter(col("src") === "NEW")
      .select("id").as[Long].collect().sorted.toSeq == Seq(900L, 901L))
    assert(snap.filter(col("id") === 150L).count() == 1,
      "merge must not duplicate a matched key")
    // pre-merge state intact
    assert(s.read.format("graft-commitlog").option("path", table)
      .option("versionAsOf", "3").load()
      .filter(col("src").isin("UPDATED", "NEW")).count() == 0)
    // duplicate keys in updates are refused
    val e = intercept[IllegalArgumentException] {
      CommitLogIngest.mergeByKey(s, table,
        Seq((1L, "x"), (1L, "y")).toDF("id", "src"), "id")
    }
    assert(e.getMessage.contains("ambiguous"))
  }

  test("history describes surviving versions with action counts and operation kinds") {
    val s = spark
    import s.implicits._
    val table = tmp("hist") + "/t"
    build(table) // versions 0-3: appends
    CommitLogIngest.deleteWhere(s, table, col("id") < 10L) // v4: rewrite
    val hist = CommitLogIngest.history(s, table)
      .select("version", "n_added", "n_removed", "operation")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getString(3))).toSeq
    assert(hist.map(_._1) == (0L to 4L), s"versions: $hist")
    assert(hist.take(4).forall(h => h._2 == 1 && h._3 == 0 &&
      h._4 == "append"), s"appends misdescribed: $hist")
    assert(hist(4)._3 == 1 && hist(4)._4 == "rewrite",
      s"the delete's copy-on-write commit misdescribed: ${hist(4)}")
  }

  test("a change commit mid-stream fails the feed loudly; skipChangeCommits delivers appends only") {
    val s = spark
    import s.implicits._
    val table = tmp("feed") + "/t"
    build(table) // v0-v3 appends, ids 0-399
    CommitLogIngest.deleteWhere(s, table, col("id") < 10L) // v4: rewrite
    // default: a mid-stream change commit is an error, not duplicates
    val e = intercept[IllegalStateException] {
      CommitLogIngest.changes(s, table, 2L, 4L)
    }
    assert(e.getMessage.contains("skipChangeCommits"))
    // skipping: versions 3 (append) delivered, version 4 (rewrite) not
    val skipped = CommitLogIngest.changes(s, table, 2L, 4L,
      skipChangeCommits = true)
      .select("id").as[Long].collect().sorted.toSeq
    assert(skipped == (300L until 400L),
      s"skipChangeCommits must deliver the pure appends only: $skipped")

    // the V2 stream honors the same contract end-to-end
    val seen = scala.collection.mutable.ArrayBuffer.empty[Long]
    val q = s.readStream.format("graft-commitlog").option("path", table)
      .option("skipChangeCommits", "true").load()
      .writeStream.option("checkpointLocation", tmp("feed-ck"))
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        seen.synchronized { seen ++= b.select("id").as[Long].collect() }
        ()
      }.start()
    try {
      q.processAllAvailable()
      // fresh consumer: v0-v3 adds + v4 skipped → every original id once
      assert(seen.synchronized(seen.sorted.toSeq) == (0L until 400L),
        "fresh feed with skipChangeCommits must deliver each append once")
      // another delete mid-stream, then an append — only the append flows
      CommitLogIngest.deleteWhere(s, table, col("id") >= 390L)
      (500 until 510).map(i => (i.toLong, "late")).toDF("id", "src")
        .write.format("graft-commitlog").option("path", table)
        .mode("append").save()
      q.processAllAvailable()
      assert(seen.synchronized(seen.sorted.toSeq) ==
        ((0L until 400L) ++ (500L until 510L)),
        "mid-stream rewrite must be skipped, later appends delivered")
    } finally q.stop()
  }

  test("contract guards: narrow merge refused, statsCol switch refused, bad vacuum refused, DML across generations") {
    val s = spark
    import s.implicits._
    val table = tmp("guards") + "/t"
    Seq((1L, "a", 10L), (2L, "b", 20L)).toDF("id", "tag", "n")
      .write.format("graft-commitlog").option("path", table)
      .option("statsCol", "id").mode("append").save()
    // a merge whose updates LACK a table column would record a narrower
    // schema and hide the column from every read — refused
    val e1 = intercept[IllegalArgumentException] {
      CommitLogIngest.mergeByKey(s, table, Seq((1L, 99L)).toDF("id", "n"),
        "id")
    }
    assert(e1.getMessage.contains("narrower schema"))
    // switching the stats column mid-table would mix incomparable index
    // rows — refused BEFORE any commit work
    val e2 = intercept[IllegalArgumentException] {
      Seq((3L, "c", 30L)).toDF("id", "tag", "n")
        .write.format("graft-commitlog").option("path", table)
        .option("statsCol", "n").mode("append").save()
    }
    assert(e2.getMessage.contains("stats-indexed"))
    assert(CommitLogIngest.latestVersion(table) == 0L,
      "refused statsCol switch must not land a version")
    // vacuum past the latest version would delete the live table — refused
    val e3 = intercept[IllegalArgumentException] {
      CommitLogIngest.vacuum(s, table,
        CommitLogIngest.latestVersion(table) + 1)
    }
    assert(e3.getMessage.contains("delete the live table"))
    assert(CommitLogIngest.snapshot(s, table).count() == 2,
      "refused vacuum must leave the data intact")

    // DML predicate on a LATE-ADDED column with mixed generations on disk:
    // discovery must read under the declared schema, not one file's footer
    Seq((10L, "d", 40L, 7.5)).toDF("id", "tag", "n", "score")
      .write.format("graft-commitlog").option("path", table)
      .option("statsCol", "id").mode("append").save()
    val (v, nf) = CommitLogIngest.deleteWhere(s, table,
      col("score") > 5.0)
    assert(v == 2L && nf == 1, s"cross-generation delete: v$v, $nf files")
    assert(CommitLogIngest.snapshot(s, table)
      .select("id").as[Long].collect().sorted.toSeq == Seq(1L, 2L))
  }

  test("two concurrent OPTIMIZEs cannot resurrect rows: one wins, the loser recomputes") {
    val s = spark
    import s.implicits._
    val table = tmp("optrace") + "/t"
    build(table) // 4 small files
    import java.util.concurrent.{CountDownLatch, Executors}
    val pool = Executors.newFixedThreadPool(2)
    val go = new CountDownLatch(1)
    val results = (0 until 2).map { _ =>
      pool.submit(new java.util.concurrent.Callable[(Long, Int, Int)] {
        def call() = { go.await(); CommitLogIngest.optimize(s, table) }
      })
    }
    go.countDown()
    val got = results.map(_.get())
    pool.shutdown()
    // exactly one commits a compaction; the loser recomputes against the
    // fresh state and finds nothing left to compact (or compacts the
    // already-compacted remainder — either way the census is unchanged)
    val committed = got.filter(_._1 >= 0)
    assert(committed.nonEmpty, s"no optimize committed: $got")
    val ids = CommitLogIngest.snapshot(s, table)
      .select("id").as[Long].collect().sorted.toSeq
    assert(ids == (0L until 400L),
      s"concurrent OPTIMIZE duplicated or lost rows: ${ids.size} rows")
    // versions stay contiguous — no claim was double-spent
    val latest = CommitLogIngest.latestVersion(table)
    assert((0L to latest).forall(v =>
      graft.sources.LayoutDirs.hasParquetData(s"$table/log/version=$v")))
  }

  test("changeFeed derives per-version inserts/deletes; OPTIMIZE contributes nothing") {
    val s = spark
    import s.implicits._
    val table = tmp("cdf") + "/t"
    build(table) // v0-v3 appends, ids 0-399, 1 file each
    CommitLogIngest.deleteWhere(s, table, // v4
      col("id") >= 150L && col("id") < 160L)
    CommitLogIngest.updateWhere(s, table, // v5
      col("id") === 42L, Map("src" -> lit("changed")))
    val (ov, _, _) = CommitLogIngest.optimize(s, table, // v6: layout only
      maxFileBytes = 10L * 1024 * 1024)
    assert(ov == 6L)
    val feed = CommitLogIngest.changeFeed(s, table, 2L, 6L)
      .select("_commit_version", "_change_type", "id", "src").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        r.getString(3))).toSeq
    // v3: plain append → inserts
    assert(feed.filter(_._1 == 3L).map(c => (c._2, c._3)).sorted ==
      (300L until 400L).map(("insert", _)))
    // v4: the delete's removed rows, nothing else
    assert(feed.filter(_._1 == 4L).map(c => (c._2, c._3)).sorted ==
      (150L until 160L).map(("delete", _)))
    // v5: the update as pre-image delete + post-image insert
    assert(feed.filter(_._1 == 5L).map(c => (c._2, c._3, c._4)).toSet ==
      Set(("delete", 42L, "s0"), ("insert", 42L, "changed")))
    // v6: OPTIMIZE moved bytes, changed nothing
    assert(feed.count(_._1 == 6L) == 0,
      "a pure layout commit must contribute no change rows")
    // a metadata-only range (an empty sink epoch: its txn action only) is
    // a zero-row poll with the feed's schema intact, not an error
    assert(CommitLogIngest.commitEpoch(s, table, adds = Seq.empty,
      statsCol = None, statsDir = None, schemaOf = None,
      queryId = "idle", epochId = 0L))
    assert(CommitLogIngest.latestVersion(table) == 7L)
    val idle = CommitLogIngest.changeFeed(s, table, 6L, 7L)
    assert(idle.count() == 0 &&
      idle.columns.contains("_change_type") &&
      idle.columns.contains("_commit_version"))
  }

  test("delete matching nothing commits nothing; deleting every row leaves an empty, readable table") {
    val s = spark
    import s.implicits._
    val table = tmp("edge") + "/t"
    Seq((1L, "a"), (2L, "b")).toDF("id", "tag")
      .coalesce(1)
      .write.format("graft-commitlog").option("path", table)
      .mode("append").save()
    assert(CommitLogIngest.deleteWhere(s, table, col("id") > 99L) ==
      (-1L, 0))
    assert(CommitLogIngest.latestVersion(table) == 0L,
      "a no-match delete must not land a version")
    // delete-all: the rewrite keeps a (0-row) file, so the table stays
    // readable — empty with its schema intact (the Delta semantic), and
    // the pre-delete version still time-travels
    val (v, _) = CommitLogIngest.deleteWhere(s, table, col("id") >= 0L)
    assert(v == 1L)
    val emptied = CommitLogIngest.snapshot(s, table)
    assert(emptied.count() == 0 &&
      emptied.columns.toSeq == Seq("id", "tag"))
    assert(s.read.format("graft-commitlog").option("path", table)
      .option("versionAsOf", "0").load().count() == 2)
  }
}
