package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.sources.CommitLogReadTracker
import graft.streaming.CommitLogIngest

/** The DataSource V2 contract of `graft-commitlog` — what the round-9 V1
  * source could not offer: admission control (`maxVersionsPerTrigger`),
  * a batch scan with `versionAsOf` time travel, filter pushdown that
  * prunes whole files through the commit-time stats index, and by-name
  * schema projection (missing column → NULL) in the readers. */
class CommitLogV2Spec extends SparkSuite {

  private def tmp(prefix: String): String = {
    val d = java.nio.file.Files.createTempDirectory(s"graft-clv2-$prefix")
    d.toFile.deleteOnExit()
    d.toString
  }

  test("maxVersionsPerTrigger caps how many versions one micro-batch swallows") {
    val s = spark
    import s.implicits._
    val table = tmp("admission")
    // 6 committed versions of 10 rows each BEFORE any reader exists
    (0 until 6).foreach { v =>
      assert(CommitLogIngest.commitAppend(
        (0 until 10).map(i => (v * 10L + i, s"p$v-$i")).toDF("id", "p"),
        table) == v.toLong)
    }
    val batches = scala.collection.mutable.ArrayBuffer.empty[Seq[Long]]
    val q = s.readStream.format("graft-commitlog")
      .option("path", table)
      .option("maxVersionsPerTrigger", "2")
      .load()
      .writeStream.option("checkpointLocation", tmp("admission-ck"))
      .foreachBatch { (b: DataFrame, _: Long) =>
        val rows = b.select("id").collect().map(_.getLong(0)).toSeq
        batches.synchronized { batches += rows }; ()
      }
      .start()
    try q.processAllAvailable() finally q.stop()
    val all = batches.synchronized(batches.toList)
    assert(all.flatten.sorted == (0L until 60L),
      "admission-controlled catch-up lost or duplicated rows")
    val nonEmpty = all.filter(_.nonEmpty)
    assert(nonEmpty.length >= 3,
      s"6-version backlog with cap 2 drained in ${nonEmpty.length} batches")
    assert(nonEmpty.forall(_.size <= 20),
      s"a batch exceeded 2 versions: sizes ${nonEmpty.map(_.size)}")
  }

  test("batch scan matches snapshot across types; versionAsOf time-travels") {
    val s = spark
    import s.implicits._
    val table = tmp("batch")
    def wave(v: Int): DataFrame =
      (0 until 25).map { i =>
        (v * 25L + i, s"n$v-$i", i / 7.0, i % 2 == 0,
          Array.tabulate(4)(d => (v + i + d) / 3.0f),
          java.sql.Timestamp.valueOf(s"2024-01-0${v + 1} 00:00:${i % 60}"))
      }.toDF("id", "name", "score", "flag", "emb", "ts")
    (0 until 3).foreach(v =>
      assert(CommitLogIngest.commitAppend(wave(v), table) == v.toLong))

    def canon(df: DataFrame): Seq[Row] =
      df.select("id", "name", "score", "flag", "emb", "ts")
        .collect().sortBy(_.getLong(0)).toSeq
        .map(r => Row(r.getLong(0), r.getString(1), r.getDouble(2),
          r.getBoolean(3), r.getSeq[Float](4).toList, r.getTimestamp(5)))
    val viaV2 = canon(s.read.format("graft-commitlog")
      .option("path", table).load())
    val viaSnapshot = canon(CommitLogIngest.snapshot(s, table))
    assert(viaV2.size == 75 && viaV2 == viaSnapshot,
      "V2 batch scan diverged from the native snapshot read")

    val pinned = s.read.format("graft-commitlog")
      .option("path", table).option("versionAsOf", "0").load()
    assert(canon(pinned) == canon(CommitLogIngest.snapshot(s, table, 0L)),
      "versionAsOf=0 did not reproduce the version-0 snapshot")
    assert(pinned.count() == 25)
  }

  test("pushed filters prune whole files through the commit-time stats index") {
    val s = spark
    import s.implicits._
    val table = tmp("pushdown")
    // 8 versions with disjoint id ranges, stats-indexed on id
    (0 until 8).foreach { v =>
      assert(CommitLogIngest.commitAppend(
        (0 until 100).map(i => (v * 100L + i, s"p$v-$i")).toDF("id", "p"),
        table, statsCol = Some("id")) == v.toLong)
    }
    val live = CommitLogIngest
      .liveFiles(s, table, CommitLogIngest.latestVersion(table))
    val perWave = math.max(1, (live.size + 7) / 8)

    CommitLogReadTracker.enable()
    try {
      val hit = s.read.format("graft-commitlog").option("path", table)
        .load().filter(col("id") === 250L)
      assert(hit.count() == 1, "pushdown changed the result")
      val opened = CommitLogReadTracker.drain().distinct
      assert(opened.nonEmpty && opened.size <= perWave,
        s"filtered V2 scan opened ${opened.size} of ${live.size} files " +
          s"(one wave is <= $perWave)")
      // range predicate: only the two overlapping waves' files open
      val range = s.read.format("graft-commitlog").option("path", table)
        .load().filter(col("id") >= 150L && col("id") <= 250L)
      assert(range.count() == 101)
      val opened2 = CommitLogReadTracker.drain().distinct
      assert(opened2.size <= 2 * perWave,
        s"range-filtered scan opened ${opened2.size} files")
    } finally CommitLogReadTracker.disable()

    // an unfiltered scan still reads everything (prune needs a predicate)
    assert(s.read.format("graft-commitlog").option("path", table)
      .load().count() == 800)
  }

  test("a filtered readStream opens only index-overlapping files per delivered version") {
    val s = spark
    import s.implicits._
    val table = tmp("stream-skip")
    // version 0 pre-exists so schema inference works; each later version
    // lands while the reader runs, and each splits into multiple files
    // with disjoint id ranges (repartitionByRange on the stats column)
    def wave(v: Int): DataFrame =
      (0 until 100).map(i => (v * 100L + i, s"p$v-$i")).toDF("id", "p")
        .repartitionByRange(4, col("id"))
    assert(CommitLogIngest.commitAppend(wave(0), table,
      statsCol = Some("id")) == 0L)

    val got = scala.collection.mutable.ArrayBuffer.empty[Long]
    CommitLogReadTracker.enable()
    val q = s.readStream.format("graft-commitlog")
      .option("path", table)
      .option("index.lo", "50").option("index.hi", "60")
      .load()
      .writeStream.option("checkpointLocation", tmp("skip-ck"))
      .foreachBatch { (b: DataFrame, _: Long) =>
        val rows = b.filter(col("id").between(50, 60))
          .select("id").collect().map(_.getLong(0))
        got.synchronized { got ++= rows }; ()
      }
      .start()
    try {
      q.processAllAvailable()
      (1 until 3).foreach { v =>
        assert(CommitLogIngest.commitAppend(wave(v), table,
          statsCol = Some("id")) == v.toLong)
        q.processAllAvailable()
      }
    } finally q.stop()
    CommitLogReadTracker.disable()

    // correctness: every row in [50, 60] was delivered exactly once (only
    // version 0 holds them; later versions' ids are out of range)
    assert(got.synchronized(got.sorted.toSeq) == (50L to 60L),
      "index-skipped stream lost or duplicated in-range rows")
    // the skip: of version 0's 4 range-partitioned files only those whose
    // [min,max] overlaps [50,60] opened (1-2 of 4); versions 1-2 have NO
    // overlapping file, so the reader opened nothing for them
    val opened = CommitLogReadTracker.drain().distinct
    val v0Files = CommitLogIngest.addedFiles(s, table, -1L, 0L).toSet
    assert(opened.forall(v0Files.contains),
      s"stream opened files of versions outside the index range: " +
        s"${opened.filterNot(v0Files.contains)}")
    assert(opened.size <= 2,
      s"stream opened ${opened.size} of version 0's ${v0Files.size} files " +
        "for an 11-id range")
  }

  test("column pruning reaches the scan: a projection reads only its columns") {
    val s = spark
    import s.implicits._
    val table = tmp("prune")
    assert(CommitLogIngest.commitAppend(
      (0 until 50).map(i => (i.toLong, s"p$i", i / 3.0)).toDF("id", "p", "v"),
      table) == 0L)
    val df = s.read.format("graft-commitlog").option("path", table)
      .load().select("id")
    assert(df.as[Long].collect().sorted.toSeq == (0L until 50L))
    // the projection reached the V2 scan, not just a post-scan Project
    val scans = unwrapPlan(df.queryExecution.executedPlan).collect {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b
    }
    assert(scans.nonEmpty, "no BatchScanExec in the plan")
    scans.foreach { b =>
      assert(b.scan.readSchema().fieldNames.toSeq == Seq("id"),
        s"scan still reads ${b.scan.readSchema().fieldNames.mkString(",")}")
    }
    // pruning composes with schema generations: project a column that
    // only the NEWER generation's files carry
    assert(CommitLogIngest.commitAppend(
      Seq((100L, "x", 1.0, 7L)).toDF("id", "p", "v", "extra"), table) == 1L)
    val evolved = s.read.format("graft-commitlog").option("path", table)
      .load().select("id", "extra")
    val got = evolved.collect()
      .map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) None else Some(r.getLong(1)))).toMap
    assert(got.size == 51 && got(100L) == Some(7L) && got(0L).isEmpty,
      "pruned read across schema generations broke null-fill")
  }

  test("comparison filters push into the parquet readers, exact across schema generations") {
    val s = spark
    import s.implicits._
    val table = tmp("rowgroup")
    // generation 1: (id, p); generation 2 adds a double score
    assert(CommitLogIngest.commitAppend(
      (0 until 50).map(i => (i.toLong, s"p${i % 5}")).toDF("id", "p"),
      table) == 0L)
    assert(CommitLogIngest.commitAppend(
      (50 until 100).map(i => (i.toLong, s"p${i % 5}", i / 10.0))
        .toDF("id", "p", "score"), table) == 1L)
    val df = s.read.format("graft-commitlog").option("path", table).load()

    def ids(q: org.apache.spark.sql.DataFrame): Seq[Long] =
      q.select("id").as[Long].collect().sorted.toSeq

    // string equality (record-level filter, both generations)
    assert(ids(df.filter(col("p") === "p3")) ==
      (0L until 100L).filter(_ % 5 == 3))
    // numeric range
    assert(ids(df.filter(col("id") > 90L && col("id") <= 95L)) ==
      (91L to 95L))
    // a comparison on the generation-2-only column: generation-1 files
    // can never match (all-NULL) and are skipped whole; result exact
    assert(ids(df.filter(col("score") >= 8.0)) == (80L until 100L))
    // IsNotNull on the late column skips generation 1; IsNull keeps it
    assert(ids(df.filter(col("score").isNotNull)) == (50L until 100L))
    assert(ids(df.filter(col("score").isNull)) == (0L until 50L))
    // the scan really accepted the filters (not residual-only planning)
    val probe = df.filter(col("p") === "p3" && col("id") > 10L)
    probe.collect()
    val scans = unwrapPlan(probe.queryExecution.executedPlan).collect {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b
    }
    assert(scans.nonEmpty &&
      scans.forall(_.scan.description().contains("EqualTo(p,p3)")),
      s"pushed filters missing from scan: ${scans.map(_.scan.description())}")
  }

  test("a double-keyed index never prunes through pushed filters; empty created table SELECTs zero rows") {
    val s = spark
    import s.implicits._
    val table = tmp("dbl")
    // stats column is a DOUBLE: GreaterThan(score, 5.5) truncated to a
    // long bound would wrongly prune a file whose keys live in (5, 6) —
    // the reader must open it and return its matching rows
    assert(CommitLogIngest.commitAppend(
      Seq((1L, 5.6), (2L, 5.9)).toDF("id", "score"), table,
      statsCol = Some("score")) == 0L)
    assert(CommitLogIngest.commitAppend(
      Seq((3L, 9.0)).toDF("id", "score"), table,
      statsCol = Some("score")) == 1L)
    val got = s.read.format("graft-commitlog").option("path", table).load()
      .filter(col("score") > 5.5).select("id")
      .as[Long].collect().sorted.toSeq
    assert(got == Seq(1L, 2L, 3L),
      s"fractional filter on a double index lost rows: $got")

    // CREATE then SELECT before any INSERT: a valid zero-row read
    val empty = tmp("empty-sel") + "/t"
    CommitLogIngest.createTable(empty,
      Seq((0L, "")).toDF("id", "p").schema)
    assert(s.read.format("graft-commitlog").option("path", empty)
      .load().count() == 0)
    // an EXPLICIT versionAsOf on the empty table still fails loudly
    val e = intercept[Exception] {
      s.read.format("graft-commitlog").option("path", empty)
        .option("versionAsOf", "0").load().count()
    }
    assert(e.getMessage.contains("no committed version"))
  }

  test("Trigger.AvailableNow drains the backlog in bounded batches and stops") {
    val s = spark
    import s.implicits._
    val table = tmp("availnow")
    (0 until 6).foreach { v =>
      assert(CommitLogIngest.commitAppend(
        (0 until 10).map(i => (v * 10L + i, s"p$i")).toDF("id", "p"),
        table) == v.toLong)
    }
    val batches = scala.collection.mutable.ArrayBuffer.empty[Int]
    val seen = scala.collection.mutable.ArrayBuffer.empty[Long]
    val q = s.readStream.format("graft-commitlog")
      .option("path", table)
      .option("maxVersionsPerTrigger", "2") // 6 versions → 3 batches
      .load()
      .writeStream.option("checkpointLocation", tmp("availnow-ck"))
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (b: DataFrame, _: Long) =>
        val ids = b.select("id").as[Long].collect()
        batches.synchronized { batches += ids.length }
        seen.synchronized { seen ++= ids }; ()
      }.start()
    // a commit landing AFTER the run started is NOT part of "available
    // now" — the drain must stop at the frozen end offset
    assert(q.awaitTermination(60000), "AvailableNow query must self-stop")
    assert(CommitLogIngest.commitAppend(
      Seq((999L, "late")).toDF("id", "p"), table) == 6L)
    assert(seen.synchronized(seen.sorted.toSeq) == (0L until 60L),
      s"drain must deliver exactly the startup backlog")
    assert(batches.synchronized(batches.count(_ > 0)) == 3,
      s"admission control must bound the drain to 3 batches of 2 " +
        s"versions: ${batches.toList}")
  }

  test("declared schema projects by name: a column absent from files reads as NULL") {
    val s = spark
    import s.implicits._
    val table = tmp("declared")
    assert(CommitLogIngest.commitAppend(
      Seq((1L, "a"), (2L, "b")).toDF("id", "p"), table) == 0L)
    val declared = StructType(Seq(
      StructField("p", StringType), // reordered on purpose
      StructField("id", LongType),
      StructField("extra", LongType))) // not in any file
    val got = scala.collection.mutable.ArrayBuffer.empty[(String, Long, Any)]
    val q = s.readStream.format("graft-commitlog")
      .option("path", table).schema(declared).load()
      .writeStream.option("checkpointLocation", tmp("declared-ck"))
      .foreachBatch { (b: DataFrame, _: Long) =>
        assert(b.columns.toSeq == Seq("p", "id", "extra"))
        val rows = b.collect()
          .map(r => (r.getString(0), r.getLong(1), r.get(2)))
        got.synchronized { got ++= rows }; ()
      }
      .start()
    try q.processAllAvailable() finally q.stop()
    assert(got.synchronized(got.sortBy(_._2).toList) ==
      List(("a", 1L, null), ("b", 2L, null)),
      "by-name projection with a missing column failed")
  }
}
