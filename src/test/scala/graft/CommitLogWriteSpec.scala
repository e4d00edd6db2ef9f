package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.Row
import org.apache.spark.sql.connector.write.WriterCommitMessage
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.TimestampNTZType

import graft.sources.{CommitLogDataWriter, CommitLogWrite, CommitLogWriterCommit, LayoutDirs}
import graft.streaming.CommitLogIngest

/** The DataSource V2 WRITE contract of `graft-commitlog`: batch append and
  * truncate through `df.write`, the exactly-once streaming sink through
  * `ds.writeStream`, create-then-insert bootstrap, and the txn replay
  * guard's survival across log checkpoints + retention. */
class CommitLogWriteSpec extends SparkSuite {

  private def tmp(prefix: String): String = {
    val d = java.nio.file.Files.createTempDirectory(s"graft-clw-$prefix")
    d.toFile.deleteOnExit()
    d.toString
  }

  test("batch append roundtrips every supported column type") {
    val s = spark
    import s.implicits._
    val table = tmp("types")
    val df = s.createDataFrame(Seq(
      (1L, 7, 1.5, 2.5f, true, "alpha", Array[Byte](1, 2),
        java.sql.Timestamp.valueOf("2026-01-02 03:04:05.123456"),
        java.sql.Date.valueOf("2026-01-02"),
        Seq(10L, 20L), Seq("x", "y"), (42L, "nested"),
        BigDecimal("12345.6789"), Map("k" -> 1L, "j" -> 2L),
        java.time.LocalDateTime.parse("2026-01-02T03:04:05.123456")),
      (2L, -7, -1.5, -2.5f, false, "beta", Array[Byte](3),
        java.sql.Timestamp.valueOf("1999-12-31 23:59:59.0"),
        java.sql.Date.valueOf("1999-12-31"),
        Seq.empty[Long], Seq.empty[String], (43L, "deep"),
        BigDecimal("-0.0001"), Map.empty[String, Long],
        java.time.LocalDateTime.parse("1999-12-31T23:59:59"))))
      .toDF("l", "i", "d", "f", "b", "str", "bin", "ts", "dt",
        "al", "as", "st", "dec", "m", "ntz")
      .withColumn("dec", col("dec").cast("decimal(18,4)"))
    assert(df.schema("ntz").dataType == TimestampNTZType)
    CommitLogIngest.createTable(table, df.schema)
    df.write.format("graft-commitlog").option("path", table)
      .mode("append").save()
    // snapshot (native parquet reader) sees exactly what was written
    val back = CommitLogIngest.snapshot(s, table)
      .select(df.columns.map(col): _*).orderBy("l").collect()
    val in = df.orderBy("l").collect()
    assert(back.length == 2)
    (back zip in).foreach { case (g, e) =>
      (0 until e.length).foreach { c =>
        (g.get(c), e.get(c)) match {
          case (a: Array[Byte], b: Array[Byte]) => assert(a.sameElements(b))
          case (a, b) => assert(a == b, s"col ${df.columns(c)}: $a != $b")
        }
      }
    }
    // and the V2 batch reader decodes the writer's files
    val v2 = s.read.format("graft-commitlog").option("path", table).load()
      .select("l", "str", "al", "st", "dec", "m", "ntz").orderBy("l")
      .collect()
    assert(v2(0) == Row(1L, "alpha", Seq(10L, 20L), Row(42L, "nested"),
      new java.math.BigDecimal("12345.6789"), Map("k" -> 1L, "j" -> 2L),
      java.time.LocalDateTime.parse("2026-01-02T03:04:05.123456")))
    assert(v2(1) == Row(2L, "beta", Seq.empty[Long], Row(43L, "deep"),
      new java.math.BigDecimal("-0.0001"), Map.empty[String, Long],
      java.time.LocalDateTime.parse("1999-12-31T23:59:59")))
  }

  test("a partitioned append past the open-writer ceiling fails and leaves no files") {
    val s = spark
    import s.implicits._
    val table = tmp("ceiling")
    val n = CommitLogDataWriter.MaxOpenWriters + 1
    // one task meets n distinct partition values
    val df = (0 until n).map(i => (i.toLong, i.toLong)).toDF("id", "day")
      .coalesce(1)
    val e = intercept[Exception] {
      df.write.format("graft-commitlog").option("path", table)
        .option("partitionCols", "day").mode("append").save()
    }
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(t => Option(t.getMessage).exists(m =>
        m.contains("partition-value writers") && m.contains("repartition"))),
      e.toString)
    assert(CommitLogIngest.latestVersion(table) == -1L,
      "a failed write landed a version")
    val data = Paths.get(table, "data")
    val left =
      if (!Files.exists(data)) Seq.empty
      else {
        val w = Files.walk(data)
        try w.iterator().asScala.map(_.getFileName.toString)
          .filter(f => f.endsWith(".parquet") || f.endsWith(".crc")).toList
        finally w.close()
      }
    assert(left.isEmpty, s"a failed write left $left")
  }

  test("streaming sink writes a decimal column") {
    val s = spark
    import s.implicits._
    val table = tmp("sink-dec") + "/t"
    val in = MemoryStream[(Long, BigDecimal)](s)
    val q = in.toDF().toDF("id", "amount")
      .writeStream.format("graft-commitlog").option("path", table)
      .option("checkpointLocation", tmp("sink-dec-ck"))
      .start()
    try {
      in.addData((1L, BigDecimal("1.25")), (2L, BigDecimal("-3.5")))
      q.processAllAvailable()
    } finally q.stop()
    val back = CommitLogIngest.snapshot(s, table).orderBy("id").collect()
      .map(r => (r.getLong(0), BigDecimal(r.getDecimal(1)))).toSeq
    assert(back == Seq((1L, BigDecimal("1.25")), (2L, BigDecimal("-3.5"))))
  }

  test("appends are atomic versions; overwrite truncates but old versions time-travel") {
    val s = spark
    import s.implicits._
    val table = tmp("modes")
    val a = (0 until 10).map(i => (i.toLong, "a")).toDF("id", "tag")
    CommitLogIngest.createTable(table, a.schema)
    a.write.format("graft-commitlog").option("path", table)
      .mode("append").save()
    (10 until 20).map(i => (i.toLong, "b")).toDF("id", "tag")
      .write.format("graft-commitlog").option("path", table)
      .mode("append").save()
    assert(CommitLogIngest.latestVersion(table) == 1L)
    assert(CommitLogIngest.snapshot(s, table).count() == 20)

    (100 until 105).map(i => (i.toLong, "c")).toDF("id", "tag")
      .write.format("graft-commitlog").option("path", table)
      .mode("overwrite").save()
    assert(CommitLogIngest.latestVersion(table) == 2L)
    val latest = CommitLogIngest.snapshot(s, table)
      .select("id").as[Long].collect().sorted.toSeq
    assert(latest == (100L until 105L), s"truncate left $latest")
    // the pre-truncate version is still fully readable
    val v1 = s.read.format("graft-commitlog").option("path", table)
      .option("versionAsOf", "1").load()
      .select("id").as[Long].collect().sorted.toSeq
    assert(v1 == (0L until 20L), "versionAsOf lost the pre-truncate state")
    // truncate-to-empty is refused loudly, not committed
    val e = intercept[Exception] {
      a.filter(lit(false)).write.format("graft-commitlog")
        .option("path", table).mode("overwrite").save()
    }
    assert(e.getMessage != null)
    assert(CommitLogIngest.latestVersion(table) == 2L,
      "refused truncate must not land a version")
  }

  test("fresh-table bootstrap: writes self-create; empty readers need createTable") {
    val s = spark
    import s.implicits._
    // a WRITE carries its own schema — the very first write to an empty
    // dir just works (Spark hands the provider the data schema)
    val fresh = tmp("fresh") + "/t"
    val df = Seq((1L, "x")).toDF("id", "p")
    df.write.format("graft-commitlog").option("path", fresh)
      .mode("append").save()
    assert(CommitLogIngest.snapshot(s, fresh).count() == 1)
    // a READER on a table with no commits has no schema to infer — loud,
    // and the message names the fix
    val empty = tmp("fresh-read") + "/t"
    val e = intercept[Exception] {
      s.read.format("graft-commitlog").option("path", empty).load()
    }
    assert(e.getMessage.contains("createTable"),
      s"bootstrap error must name the fix, got: ${e.getMessage}")
    // after createTable the declared schema is inferable before any commit
    CommitLogIngest.createTable(empty, df.schema)
    assert(s.read.format("graft-commitlog").option("path", empty)
      .load().schema.fieldNames.toSeq == Seq("id", "p"))
  }

  test("streaming sink commits each epoch exactly once, visible to a live readStream") {
    val s = spark
    import s.implicits._
    val table = tmp("sink") + "/t"
    CommitLogIngest.createTable(table,
      Seq((0L, "")).toDF("id", "p").schema)
    // a DSv2 readStream tails the very table the DSv2 sink writes
    val seen = scala.collection.mutable.ArrayBuffer.empty[Long]
    val tail = s.readStream.format("graft-commitlog").option("path", table)
      .load()
      .writeStream.option("checkpointLocation", tmp("sink-tail-ck"))
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        seen.synchronized { seen ++= b.select("id").as[Long].collect() }
        ()
      }.start()

    val in = MemoryStream[(Long, String)](s)
    val q = in.toDF().toDF("id", "p")
      .writeStream.format("graft-commitlog").option("path", table)
      .option("checkpointLocation", tmp("sink-ck"))
      .start()
    try {
      in.addData((1L, "a"), (2L, "b"))
      q.processAllAvailable()
      in.addData((3L, "c"))
      q.processAllAvailable()
      val snap = CommitLogIngest.snapshot(s, table)
        .select("id").as[Long].collect().sorted.toSeq
      assert(snap == Seq(1L, 2L, 3L), s"sink wrote $snap")
      tail.processAllAvailable()
      assert(seen.synchronized(seen.sorted.toSeq) == Seq(1L, 2L, 3L),
        "live readStream must deliver the sink's rows exactly once")
      // each epoch committed a txn action for the query
      assert(CommitLogIngest.lastTxnEpoch(s, table, q.id.toString) >= 1L)
    } finally { q.stop(); tail.stop() }
  }

  test("a replayed epoch is dropped by the txn guard; guard survives checkpoint + retention") {
    val s = spark
    import s.implicits._
    val table = tmp("replay") + "/t"
    val schema = Seq((0L, "")).toDF("id", "p").schema
    CommitLogIngest.createTable(table, schema)
    val qid = "q-replay-test"
    val sw = new CommitLogWrite(table, schema, qid, overwrite = false, None)
    // a restarted query run constructs a NEW write (fresh
    // writer-unique data dir) — replays come through sw2, never sw
    val sw2 = new CommitLogWrite(table, schema, qid, overwrite = false, None)

    def fileFor(w: CommitLogWrite, epoch: Long, ids: Seq[Long])
        : Seq[String] = {
      val dir = w.epochDir(epoch)
      ids.map(i => (i, s"p$i")).toDF("id", "p")
        .coalesce(1).write.mode("overwrite").parquet(dir)
      LayoutDirs.dataFiles(dir)
    }

    // 12 committed epochs → the checkpoint at version 9 has passed
    (0L until 12L).foreach { e =>
      sw.commit(e, Array[WriterCommitMessage](
        CommitLogWriterCommit(fileFor(sw, e, Seq(e)))))
    }
    assert(CommitLogIngest.latestVersion(table) == 11L)
    assert(CommitLogIngest.lastTxnEpoch(s, table, qid) == 11L)

    // REPLAY of epoch 5 (restart raced the engine's offset commit): its
    // rewritten files must be dropped, no version landed
    val replayFiles = fileFor(sw2, 5L, Seq(999L))
    sw2.commit(5L,
      Array[WriterCommitMessage](CommitLogWriterCommit(replayFiles)))
    assert(CommitLogIngest.latestVersion(table) == 11L,
      "replayed epoch must not land a new version")
    assert(replayFiles.forall(p => !Files.exists(Paths.get(p))),
      "replayed epoch's orphan files must be reclaimed")
    val ids = CommitLogIngest.snapshot(s, table)
      .select("id").as[Long].collect().sorted.toSeq
    assert(ids == (0L until 12L), s"table content corrupted: $ids")

    // retention: prune every log partition the checkpoint covers — the
    // guard must still answer from the checkpoint's preserved txn row
    (0L to 9L).foreach(v =>
      LayoutDirs.deleteQuiet(s"$table/log/version=$v"))
    assert(CommitLogIngest.lastTxnEpoch(s, table, qid) == 11L,
      "txn guard must survive log retention via the checkpoint")
    val replay2 = fileFor(sw2, 3L, Seq(888L))
    sw2.commit(3L, Array[WriterCommitMessage](CommitLogWriterCommit(replay2)))
    assert(CommitLogIngest.latestVersion(table) == 11L)
    assert(replay2.forall(p => !Files.exists(Paths.get(p))))
  }

  /** A one-version unpartitioned table (id long, day long), CDF off. */
  private def oneVersion(table: String): Unit = {
    val s = spark
    import s.implicits._
    Seq((1L, 1L)).toDF("id", "day").write.format("graft-commitlog")
      .option("path", table).mode("append").save()
  }

  /** A refused write must change nothing: no version, and neither the
    * CDF switch nor the partition layout it asked for. */
  private def assertNoTrace(table: String): Unit = {
    assert(CommitLogIngest.latestVersion(table) == 0L,
      "a refused append landed a version")
    assert(!CommitLogIngest.cdfEnabled(table),
      "a refused append turned on the change data feed")
    assert(CommitLogIngest.partitionColsOf(table).isEmpty,
      "a refused append recorded a partition layout")
  }

  test("a refused batch append leaves no trace") {
    val s = spark
    import s.implicits._
    val table = tmp("refused-batch")
    oneVersion(table)
    // `id` changes type: the append check refuses it at commit
    val e = intercept[Exception] {
      Seq(("two", 2L)).toDF("id", "day").write.format("graft-commitlog")
        .option("path", table).option("enableCdf", "true")
        .option("partitionCols", "day").mode("append").save()
    }
    assert(e.getMessage.contains("changes column type"), e.getMessage)
    assertNoTrace(table)
  }

  test("a refused streaming append leaves no trace") {
    val s = spark
    import s.implicits._
    val table = tmp("refused-stream")
    oneVersion(table)
    val in = MemoryStream[(String, Long)](s)
    val q = in.toDF().toDF("id", "day")
      .writeStream.format("graft-commitlog").option("path", table)
      .option("checkpointLocation", tmp("refused-stream-ck"))
      .option("enableCdf", "true").option("partitionCols", "day")
      .start()
    try {
      in.addData(("two", 2L))
      val e = intercept[Exception](q.processAllAvailable())
      assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .exists(t => Option(t.getMessage).exists(
          _.contains("changes column type"))), e.toString)
    } finally q.stop()
    assertNoTrace(table)
    // a second stream with a NARROWER frame: its idle epoch commits only
    // its txn action, its first rows are refused, and the column it lacks
    // still reads
    val narrow = MemoryStream[Long](s)
    val q2 = narrow.toDF().toDF("id")
      .writeStream.format("graft-commitlog").option("path", table)
      .option("checkpointLocation", tmp("narrow-stream-ck"))
      .start()
    try {
      narrow.addData()
      q2.processAllAvailable()
      assert(CommitLogIngest.latestVersion(table) == 1L)
      assert(CommitLogIngest.declaredSchema(table)
        .exists(_.fieldNames.toSeq == Seq("id", "day")),
        "an idle epoch of a narrower stream narrowed the table")
      narrow.addData(3L, 4L)
      val e = intercept[Exception](q2.processAllAvailable())
      assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .exists(t => Option(t.getMessage).exists(
          _.contains("lacks table column(s) day"))), e.toString)
    } finally q2.stop()
    assert(CommitLogIngest.latestVersion(table) == 1L,
      "a refused append landed a version")
    val snap = CommitLogIngest.snapshot(s, table)
    assert(snap.columns.toSeq == Seq("id", "day"))
    assert(snap.select("day").as[Long].collect().toSeq == Seq(1L))
  }
}
