package graft

import org.apache.spark.sql.functions._

import graft.sources.{CommitLogReadTracker, PartitionPaths}
import graft.streaming.CommitLogIngest

/** Partitioned commit-log tables: hive-style `col=value` dirs from the
  * DSv2 writer, driver-side dir pruning on pushed filters, DML rewrites
  * that stay inside their partition dirs, partition-LOCAL compaction, and
  * the one-layout-per-table refusal. */
class CommitLogPartitionSpec extends SparkSuite {

  private def tmp(prefix: String): String = {
    val d = java.nio.file.Files.createTempDirectory(s"graft-part-$prefix")
    d.toFile.deleteOnExit()
    d.toString
  }

  private def dayOf(path: String): Option[String] =
    PartitionPaths.valueOf(path, "day")

  test("partitioned writes land col=value dirs; a day filter opens only that day") {
    val s = spark
    import s.implicits._
    val table = tmp("write")
    (0L until 3000L).map(i => (i, i % 5, s"p$i")).toDF("id", "day", "p")
      .write.format("graft-commitlog").option("path", table)
      .option("partitionCols", "day").mode("append").save()
    assert(CommitLogIngest.partitionColsOf(table) == Seq("day"))
    val live = CommitLogIngest.liveFiles(s, table,
      CommitLogIngest.latestVersion(table))
    // every file sits in a day= dir and holds exactly one day (values
    // stay IN the files — check via a per-file census)
    assert(live.forall(f => dayOf(f).isDefined), s"flat files: $live")
    val perFile = CommitLogIngest.snapshot(s, table)
      .groupBy(graft.sources.LayoutDirs.plainPath(input_file_name())
        .as("f"))
      .agg(countDistinct(col("day")).as("n"), min(col("day")).as("d"))
      .collect()
    assert(perFile.forall(_.getLong(1) == 1L),
      "a partitioned file holds more than one partition value")
    perFile.foreach(r =>
      assert(dayOf(r.getString(0)).contains(r.getLong(2).toString),
        s"dir value disagrees with file content: $r"))

    // the read: day = 3 opens ONLY day=3 files, result exact
    CommitLogReadTracker.enable()
    val n = s.read.format("graft-commitlog").option("path", table).load()
      .filter(col("day") === 3L).count()
    val opened = CommitLogReadTracker.drain().distinct
    CommitLogReadTracker.disable()
    assert(n == 600L)
    assert(opened.nonEmpty && opened.forall(f => dayOf(f).contains("3")),
      s"day filter opened other days' files: $opened")

    // second writer with partitionBy (the declared-layout route) composes
    (3000L until 3600L).map(i => (i, i % 5, s"p$i")).toDF("id", "day", "p")
      .write.format("graft-commitlog").option("path", table)
      .partitionBy("day").mode("append").save()
    assert(s.read.format("graft-commitlog").option("path", table).load()
      .count() == 3600L)

    // a mismatched layout is refused before any log change
    val pre = CommitLogIngest.latestVersion(table)
    val e = intercept[Exception] {
      (0L until 10L).map(i => (i + 9000L, i % 5, s"x$i"))
        .toDF("id", "day", "p")
        .write.format("graft-commitlog").option("path", table)
        .option("partitionCols", "p").mode("append").save()
    }
    assert(chain(e).exists(_.contains("would mix layouts")),
      s"wrong refusal: ${e.getMessage}")
    assert(CommitLogIngest.latestVersion(table) == pre)
  }

  test("DELETE rewrites stay inside their partition dirs; other days untouched") {
    val s = spark
    import s.implicits._
    val table = tmp("dml")
    (0L until 2000L).map(i => (i, i % 4, s"p$i")).toDF("id", "day", "p")
      .write.format("graft-commitlog").option("path", table)
      .option("partitionCols", "day").mode("append").save()
    val preLive = CommitLogIngest.liveFiles(s, table, 0L)
    val preByDay = preLive.groupBy(dayOf)

    // delete rows only in day 2
    val (v, nRw) = CommitLogIngest.deleteWhere(s, table,
      col("day") === 2L && col("id") % 10 === 0L)
    assert(v == 1L && nRw > 0)
    val postLive = CommitLogIngest.liveFiles(s, table, v)
    // every rewritten file is still in a day=2 dir
    val newFiles = postLive.toSet -- preLive.toSet
    assert(newFiles.nonEmpty &&
      newFiles.forall(f => dayOf(f).contains("2")),
      s"rewrites escaped their partition dir: $newFiles")
    // files of the other days did not move
    (Seq("0", "1", "3")).foreach { d =>
      assert(postLive.filter(f => dayOf(f).contains(d)).toSet ==
        preByDay(Some(d)).toSet, s"day $d files moved")
    }
    // content: day 2 lost exactly its id%10 rows (ids ≡ 2 mod 4 and
    // ≡ 0 mod 10 → 100 of 2000), the rest intact
    assert(CommitLogIngest.snapshot(s, table).count() == 1900L)
    // the day filter still prunes post-DML
    CommitLogReadTracker.enable()
    assert(s.read.format("graft-commitlog").option("path", table).load()
      .filter(col("day") === 2L).count() == 400L)
    val opened = CommitLogReadTracker.drain().distinct
    CommitLogReadTracker.disable()
    assert(opened.forall(f => dayOf(f).contains("2")),
      s"post-DML day filter opened other days: $opened")
  }

  test("OPTIMIZE compacts within partitions, never across") {
    val s = spark
    import s.implicits._
    val table = tmp("opt")
    // 3 appends × 3 days → ≥ 3 small files per day
    (0 until 3).foreach { w =>
      (0L until 300L).map(i => (w * 300L + i, i % 3, s"p$w-$i"))
        .toDF("id", "day", "p")
        .write.format("graft-commitlog").option("path", table)
        .option("partitionCols", "day").mode("append").save()
    }
    val pre = CommitLogIngest.liveFiles(s, table, 2L)
    assert(pre.size >= 9)
    val preRows = CommitLogIngest.snapshot(s, table)
      .select("id").as[Long].collect().sorted.toSeq
    val (v, nIn, nOut) = CommitLogIngest.optimize(s, table)
    assert(v == 3L && nIn == pre.size && nOut < nIn,
      s"expected partition-local compaction, got ($v,$nIn,$nOut)")
    val post = CommitLogIngest.liveFiles(s, table, v)
    // every compacted file sits in exactly one day dir and holds only
    // that day's rows
    assert(post.forall(f => dayOf(f).isDefined))
    val perFile = CommitLogIngest.snapshot(s, table)
      .groupBy(graft.sources.LayoutDirs.plainPath(input_file_name())
        .as("f"))
      .agg(countDistinct(col("day")).as("n"))
      .collect()
    assert(perFile.forall(_.getLong(1) == 1L),
      "optimize merged files across partition dirs")
    assert(CommitLogIngest.snapshot(s, table)
      .select("id").as[Long].collect().sorted.toSeq == preRows,
      "optimize changed table content")
  }

  test("null and string partition values round-trip and stay prunable") {
    val s = spark
    val table = tmp("null")
    val df = s.createDataFrame(
      s.sparkContext.parallelize(Seq(
        org.apache.spark.sql.Row(1L, "en", "a"),
        org.apache.spark.sql.Row(2L, null, "b"),
        org.apache.spark.sql.Row(3L, "de", "c"),
        org.apache.spark.sql.Row(4L, null, "d"),
        org.apache.spark.sql.Row(5L, "null", "e")), 1),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("lang",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("v",
          org.apache.spark.sql.types.StringType))))
    df.write.format("graft-commitlog").option("path", table)
      .option("partitionCols", "lang").mode("append").save()
    val t = s.read.format("graft-commitlog").option("path", table).load()
    // NULLs and the real string "null" both survive (they share a dir;
    // values live in the files, so nothing conflates)
    assert(t.filter(col("lang").isNull).select("id").collect()
      .map(_.getLong(0)).sorted.toSeq == Seq(2L, 4L))
    assert(t.filter(col("lang") === "null").head().getLong(0) == 5L)
    // equality on a real language prunes to its dir
    CommitLogReadTracker.enable()
    assert(t.filter(col("lang") === "en").count() == 1L)
    val opened = CommitLogReadTracker.drain().distinct
    CommitLogReadTracker.disable()
    assert(opened.forall(f =>
      PartitionPaths.valueOf(f, "lang").contains("en")),
      s"lang filter opened other dirs: $opened")
    // IsNotNull must NOT prune the shared null dir (the real "null"
    // string lives there)
    assert(t.filter(col("lang").isNotNull).count() == 3L)
  }

  test("review fixes: partition-column updates refused; root col= segments ignored; merges stay partition-local") {
    val s = spark
    import s.implicits._
    // (a) an UPDATE assigning a partition column is refused before work
    val table = tmp("fix")
    (0L until 400L).map(i => (i, i % 4, s"p$i")).toDF("id", "day", "p")
      .write.format("graft-commitlog").option("path", table)
      .option("partitionCols", "day").mode("append").save()
    val pre = CommitLogIngest.latestVersion(table)
    val e = intercept[IllegalArgumentException] {
      CommitLogIngest.updateWhere(s, table, col("id") === 1L,
        Map("day" -> lit(9L)))
    }
    assert(e.getMessage.contains("partition columns"),
      s"wrong refusal: ${e.getMessage}")
    assert(CommitLogIngest.latestVersion(table) == pre)

    // (b) a table ROOT containing a col=value segment must not confuse
    // dir pruning (every data file carries the root segment)
    val rootTrap = tmp("trap") + "/day=19000/events"
    (0L until 200L).map(i => (i, i % 2, s"p$i")).toDF("id", "day", "p")
      .write.format("graft-commitlog").option("path", rootTrap)
      .option("partitionCols", "day").mode("append").save()
    val t = s.read.format("graft-commitlog").option("path", rootTrap).load()
    assert(t.filter(col("day") === 1L).count() == 100L,
      "root day= segment hijacked the partition pruner")
    assert(PartitionPaths.valueOf(
      CommitLogIngest.liveFiles(s, rootTrap, 0L).head, "day")
      .exists(v => v == "0" || v == "1"),
      "valueOf read the table root's segment")

    // (c) a MERGE on a partitioned table keeps its output in col=value
    // dirs (one value per file), so dir pruning survives routine upserts
    val upd = Seq((1L, 1L, "U1"), (999L, 3L, "N")).toDF("id", "day", "p")
    val (mv, _) = CommitLogIngest.mergeByKey(s, table, upd, "id")
    val live = CommitLogIngest.liveFiles(s, table, mv)
    assert(live.forall(f => dayOf(f).isDefined),
      s"merge de-partitioned files: ${live.filter(f => dayOf(f).isEmpty)}")
    val perFile = CommitLogIngest.snapshot(s, table)
      .groupBy(graft.sources.LayoutDirs.plainPath(input_file_name())
        .as("f"))
      .agg(countDistinct(col("day")).as("n")).collect()
    assert(perFile.forall(_.getLong(1) == 1L),
      "merge mixed partition values inside one file")
    assert(CommitLogIngest.snapshot(s, table).count() == 401L)
    // pruning still exact post-merge
    CommitLogReadTracker.enable()
    assert(s.read.format("graft-commitlog").option("path", table).load()
      .filter(col("day") === 3L).count() == 101L)
    val opened = CommitLogReadTracker.drain().distinct
    CommitLogReadTracker.disable()
    assert(opened.forall(f => dayOf(f).contains("3")),
      s"post-merge day filter opened other days: $opened")
  }

  test("the registry face composes write+delete+optimize and matches a direct census") {
    val s = spark
    val table = graft.sources.PartitionedCommit.ensure(s, sf0001)
    assert(CommitLogIngest.latestVersion(table) == 3L)
    val viaLog = graft.sources.PartitionedCommit.windowCensus(s, sf0001)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    val ev = graft.model.Tables.events(s, sf0001)
      .withColumn("day",
        expr(s"ts div ${graft.model.Tables.NanosPerDay}"))
    val d0 = ev.agg(min("day")).head().getLong(0)
    val direct = ev.filter(col("event_type") =!= "purchase")
      .filter(col("day") <= d0 + 1)
      .groupBy("day")
      .agg(count(lit(1)), countDistinct(col("user_id")),
        round(sum(col("value")), 4))
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    assert(viaLog == direct,
      "partitioned commit-log window census diverged from the source")
  }

  test("a failed partition-group rewrite cancels its siblings and leaves no staged files") {
    val s = spark
    import s.implicits._
    val table = tmp("abort")
    (0L until 3000L).map(i => (i, i % 5, s"p$i")).toDF("id", "day", "p")
      .write.format("graft-commitlog").option("path", table)
      .option("partitionCols", "day").mode("append").save()
    val pre = CommitLogIngest.latestVersion(table)
    // five day groups rewrite concurrently; day 2's fails on its first row
    val e = intercept[Exception] {
      CommitLogIngest.updateWhere(s, table, col("id") >= 0L,
        Map("p" -> when(col("day") === 2L,
          raise_error(lit("injected group failure")))
          .otherwise(concat(col("p"), lit("!")))))
    }
    assert(chain(e).exists(_.contains("injected group failure")),
      s"wrong failure: ${e.getMessage}")
    assert(CommitLogIngest.latestVersion(table) == pre)
    // a sibling job left running would keep landing files after the abort
    Thread.sleep(1000)
    val dataDir = java.nio.file.Paths.get(table, "data")
    val staged = {
      val st = java.nio.file.Files.walk(dataDir)
      try {
        import scala.jdk.CollectionConverters._
        st.iterator().asScala.filter(java.nio.file.Files.isRegularFile(_))
          .map(dataDir.relativize(_).toString)
          .filter(_.startsWith("rw-")).toList
      } finally st.close()
    }
    assert(staged.isEmpty, s"aborted rewrite left files: $staged")
    assert(CommitLogIngest.snapshot(s, table).filter(col("p").endsWith("!"))
      .count() == 0L)
  }

  private def chain(e: Throwable): Seq[String] =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
      .map(t => Option(t.getMessage).getOrElse("")).toSeq
}
