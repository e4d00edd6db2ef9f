package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.streaming.CommitLogIngest

/** Change data feed through the V2 READ surface
  * (`.option("readChangeFeed", "true").option("startingVersion", N)`),
  * batch and streaming: tagged rows identical to the
  * `CommitLogIngest.changeFeed` API across append/delete/update commits,
  * OPTIMIZE contributing nothing, and the streaming leg delivering each
  * version's changes exactly once across restarts. */
class CdfReadSpec extends SparkSuite {

  private def tmp(prefix: String): String = {
    val d = java.nio.file.Files.createTempDirectory(s"graft-cdf-$prefix")
    d.toFile.deleteOnExit()
    d.toString
  }

  /** v0 append, v1 append, v2 delete, v3 update, v4 optimize. */
  private def buildTable(): String = {
    val s = spark
    import s.implicits._
    val table = tmp("t")
    (0 until 2).foreach { w =>
      (w * 100L until w * 100L + 100L).map(i => (i, s"p$i", i * 10))
        .toDF("id", "p", "n")
        .write.format("graft-commitlog").option("path", table)
        .option("statsCol", "id")
        // stored CDF is per-table opt-in (round 12, the Delta
        // enableChangeDataFeed shape) — this suite exercises exactly that
        .option("enableCdf", "true")
        .mode("append").save()
    }
    val (dv, _) = CommitLogIngest.deleteWhere(s, table,
      col("id") % 7 === 3, statsCol = Some("id"))
    assert(dv == 2L)
    val (uv, _) = CommitLogIngest.updateWhere(s, table,
      col("id") % 5 === 0, Map("n" -> (col("n") + 1L)),
      statsCol = Some("id"))
    assert(uv == 3L)
    val (ov, _, _) = CommitLogIngest.optimize(s, table, Some("id"))
    assert(ov == 4L)
    table
  }

  private def canon(df: DataFrame): Seq[String] =
    df.select("id", "p", "n", "_change_type", "_commit_version")
      .collect().map(_.toString).sorted.toSeq

  test("batch readChangeFeed rows are identical to the changeFeed API") {
    val s = spark
    val table = buildTable()
    val viaApi = canon(CommitLogIngest.changeFeed(s, table, -1L, 4L))
    val viaRead = canon(
      s.read.format("graft-commitlog").option("path", table)
        .option("readChangeFeed", "true").option("startingVersion", "0")
        .load())
    assert(viaRead == viaApi,
      "V2 readChangeFeed diverged from the changeFeed API")
    // a sub-range composes the same way (update commit only)
    assert(canon(s.read.format("graft-commitlog").option("path", table)
      .option("readChangeFeed", "true").option("startingVersion", "3")
      .option("endingVersion", "3").load()) ==
      canon(CommitLogIngest.changeFeed(s, table, 2L, 3L)))
    // the update's pre/post images pair per key (the Delta CDC contract,
    // round 12 — no longer the keyless delete+insert representation)
    val upd = s.read.format("graft-commitlog").option("path", table)
      .option("readChangeFeed", "true").option("startingVersion", "3")
      .option("endingVersion", "3").load()
    val byType = upd.groupBy("_change_type").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byType.keySet == Set("update_preimage", "update_postimage"))
    assert(byType("update_preimage") == byType("update_postimage") &&
      byType("update_preimage") > 0)
    // images pair exactly per id, post n = pre n + 1
    val pairs = upd.groupBy("id").agg(
      sum(when(col("_change_type") === "update_preimage", col("n")))
        .as("pre"),
      sum(when(col("_change_type") === "update_postimage", col("n")))
        .as("post")).collect()
    assert(pairs.nonEmpty && pairs.forall(r =>
      r.getLong(2) == r.getLong(1) + 1L))
    // OPTIMIZE (v4) contributes nothing
    assert(s.read.format("graft-commitlog").option("path", table)
      .option("readChangeFeed", "true").option("startingVersion", "4")
      .load().count() == 0L)
    // missing startingVersion fails loudly
    val e = intercept[Exception] {
      s.read.format("graft-commitlog").option("path", table)
        .option("readChangeFeed", "true").load().count()
    }
    assert(chain(e).exists(_.contains("startingVersion")))
  }

  test("streaming readChangeFeed delivers each version's changes exactly once") {
    val s = spark
    import s.implicits._
    val table = buildTable()
    val ckpt = tmp("ck")
    val got = scala.collection.mutable.ArrayBuffer.empty[String]
    def drain(): Unit = {
      val q = s.readStream.format("graft-commitlog")
        .option("path", table)
        .option("readChangeFeed", "true")
        .option("startingVersion", "0")
        .load()
        .writeStream.option("checkpointLocation", ckpt)
        .foreachBatch { (b: DataFrame, _: Long) =>
          val rows = b.select("id", "p", "n", "_change_type",
            "_commit_version").collect().map(_.toString)
          got.synchronized { got ++= rows }; ()
        }
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      try q.awaitTermination(120000) finally q.stop()
    }
    drain()
    val viaApi = canon(CommitLogIngest.changeFeed(s, table, -1L, 4L))
    assert(got.synchronized(got.sorted.toSeq) == viaApi,
      "streaming CDF diverged from the changeFeed API")
    // restart on the same checkpoint: nothing redelivered
    drain()
    assert(got.synchronized(got.size) == viaApi.size,
      "restart redelivered already-consumed versions")
    // a NEW delete lands; only its changes arrive on the next drain
    val (dv, _) = CommitLogIngest.deleteWhere(s, table,
      col("id") === 42L, statsCol = Some("id"))
    drain()
    val extra = got.synchronized(got.sorted.toSeq)
      .diff(viaApi)
    assert(extra == canon(CommitLogIngest.changeFeed(s, table, dv - 1, dv)),
      "incremental CDF delivery diverged")
  }

  test("filters on the feed's constant columns keep their rows (review fix)") {
    val s = spark
    val table = buildTable()
    val t = s.read.format("graft-commitlog").option("path", table)
      .option("readChangeFeed", "true").option("startingVersion", "0")
      .load()
    val all = t.collect()
    val inserts = all.count(_.getAs[String]("_change_type") == "insert")
    val deletes = all.count(_.getAs[String]("_change_type") == "delete")
    assert(inserts > 0 && deletes > 0)
    // the tag is a partition CONSTANT on append files: a pushed filter on
    // it must not whole-file-skip those files (the round-11 review bug)
    assert(t.filter(col("_change_type") === "insert").count() ==
      inserts.toLong, "_change_type filter dropped insert rows")
    assert(t.filter(col("_change_type") === "delete").count() ==
      deletes.toLong)
    // _commit_version is constant on EVERY file — bounds on it must both
    // keep their rows and prune other versions' files
    val v0 = all.count(_.getAs[Long]("_commit_version") == 0L)
    graft.sources.CommitLogReadTracker.enable()
    assert(t.filter(col("_commit_version") === 0L).count() == v0.toLong,
      "_commit_version filter dropped rows")
    val opened = graft.sources.CommitLogReadTracker.drain().distinct
    graft.sources.CommitLogReadTracker.disable()
    val v0Files = CommitLogIngest.addedFiles(s, table, -1L, 0L).toSet
    assert(opened.nonEmpty && opened.forall(v0Files.contains),
      s"version filter opened other versions' files: " +
        s"${opened.filterNot(v0Files.contains)}")
    // IsNotNull on a constant column (Spark adds it implicitly) keeps all
    assert(t.filter(col("_change_type").isNotNull).count() == all.length)
  }

  test("an overwrite commit flows through the change feed (review fix)") {
    val s = spark
    import s.implicits._
    val table = tmp("ovw") + "/t"
    (0L until 50L).map(i => (i, s"p$i")).toDF("id", "p")
      .write.format("graft-commitlog").option("path", table)
      .mode("append").save()
    (100L until 110L).map(i => (i, s"q$i")).toDF("id", "p")
      .write.format("graft-commitlog").option("path", table)
      .mode("overwrite").save()
    val feed = s.read.format("graft-commitlog").option("path", table)
      .option("readChangeFeed", "true").option("startingVersion", "1")
      .load().collect()
    val del = feed.filter(_.getAs[String]("_change_type") == "delete")
      .map(_.getLong(0)).sorted.toSeq
    val ins = feed.filter(_.getAs[String]("_change_type") == "insert")
      .map(_.getLong(0)).sorted.toSeq
    assert(del == (0L until 50L), "overwrite pre-image missing from CDF")
    assert(ins == (100L until 110L), "overwrite post-image missing")
    // and the API reads the same stored rows
    def k(df: DataFrame): Seq[String] =
      df.select("id", "p", "_change_type", "_commit_version")
        .collect().map(_.toString).sorted.toSeq
    assert(k(s.read.format("graft-commitlog").option("path", table)
      .option("readChangeFeed", "true").option("startingVersion", "1")
      .load()) == k(CommitLogIngest.changeFeed(s, table, 0L, 1L)))
  }

  test("CDF columns stay consistent through the columnar and row paths") {
    val s = spark
    val table = buildTable()
    val t = s.read.format("graft-commitlog").option("path", table)
      .option("readChangeFeed", "true").option("startingVersion", "0")
      .load()
    // flat schema + constants → columnar
    val viaColumnar = canon(t)
    assert(scansColumnar(t))
    // projection of constants only (the file carries neither column)
    val versions = t.select("_commit_version").distinct().collect()
      .map(_.getLong(0)).sorted.toSeq
    assert(versions == Seq(0L, 1L, 2L, 3L))
    assert(viaColumnar.nonEmpty)
  }

  private def chain(e: Throwable): Seq[String] =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
      .map(t => Option(t.getMessage).getOrElse("")).toSeq
}
