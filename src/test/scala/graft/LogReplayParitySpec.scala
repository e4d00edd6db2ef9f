package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.types.DataType

import graft.sources.LayoutDirs
import graft.streaming.{CommitLogIngest, LogReplay}

/** Replay parity: for every version of tables driven through the log's
  * operations, the driver-side replay (memo advance, from-scratch replay
  * below the memo, checkpoint + tail after retention) resolves exactly
  * what an oracle computes from a plain `spark.read.parquet(<log>)` of
  * the full history — the last add/remove per path, the mask versions of
  * each live path, the schema as of the version, and the highest txn
  * epoch per query. */
class LogReplayParitySpec extends SparkSuite {

  private def tmp(prefix: String): String = {
    val d = Files.createTempDirectory(s"graft-parity-$prefix")
    d.toFile.deleteOnExit()
    d.toString
  }

  /** What a version resolves to: live paths, mask versions per masked
    * live path, schema json, max txn epoch per query. */
  private case class Resolved(live: Set[String], dvs: Map[String, Seq[Long]],
      schema: Option[String], txns: Map[String, Long])

  /** The oracle over the log as Spark reads it, for versions 0..latest. */
  private def oracle(table: String): Map[Long, Resolved] = {
    val rows = spark.read.parquet(s"$table/log")
      .select(col("version").cast("long"), col("action"), col("path"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
      .toSeq
    val latest = rows.map(_._1).max
    (0L to latest).map { v =>
      val upTo = rows.filter(_._1 <= v)
      val live = upTo.filter(r => r._2 == "add" || r._2 == "remove")
        .groupBy(_._3).collect { case (p, rs) if rs.maxBy(_._1)._2 == "add" =>
          p }.toSet
      val dvs = upTo.filter(r => r._2 == "dv" && live(r._3))
        .groupBy(_._3).map { case (p, rs) => p -> rs.map(_._1).distinct.sorted }
      val schema = upTo.filter(_._2 == "schema").sortBy(_._1).lastOption
        .map(r => DataType.fromJson(r._3).json)
      val txns = upTo.filter(_._2 == "txn").map { r =>
        val i = r._3.lastIndexOf(':')
        r._3.substring(0, i) -> r._3.substring(i + 1).toLong
      }.groupBy(_._1).map { case (q, es) => q -> es.map(_._2).max }
      v -> Resolved(live, dvs, schema, txns)
    }.toMap
  }

  private def resolved(table: String, v: Long): Resolved = {
    val (files, dvs) = CommitLogIngest.liveState(spark, table, v)
    Resolved(files.toSet, dvs,
      CommitLogIngest.schemaAt(spark, table, v).map(_.json),
      LogReplay.resolve(table, v).txns.map { case (q, t) => q -> t._1 })
  }

  /** A copy of `table`'s log under a fresh path: a table LogReplay has
    * never seen (action paths keep pointing at the original data). */
  private def logCopy(table: String): String = {
    val dst = tmp("copy") + "/t"
    Seq("log", "log_ckpt").foreach { d =>
      val src = Paths.get(table, d)
      if (Files.exists(src)) {
        val st = Files.walk(src)
        try st.forEach { p =>
          val to = Paths.get(dst, d).resolve(src.relativize(p).toString)
          if (Files.isDirectory(p)) Files.createDirectories(to)
          else Files.copy(p, to)
        } finally st.close()
      }
    }
    dst
  }

  /** Every version resolves like the oracle: advancing a fresh memo
    * upward, replaying below the memo downward, and on the original. */
  private def checkParity(table: String): Map[Long, Resolved] = {
    val want = oracle(table)
    val vs = want.keys.toSeq.sorted
    assert(CommitLogIngest.lastCheckpoint(table) >= 19L,
      s"$table never reached the v = 19 checkpoint")
    val up = logCopy(table)
    vs.foreach(v => assert(resolved(up, v) == want(v), s"advance to $v"))
    val down = logCopy(table)
    vs.reverse.foreach(v =>
      assert(resolved(down, v) == want(v), s"replay below memo at $v"))
    vs.foreach(v => assert(resolved(table, v) == want(v), s"version $v"))
    want.values.flatMap(_.txns.keys).toSet.foreach { (q: String) =>
      assert(CommitLogIngest.lastTxnEpoch(spark, table, q) ==
        want(vs.last).txns(q))
    }
    want
  }

  private def appendTo(table: String, from: Long, n: Int): Unit = {
    val s = spark
    import s.implicits._
    // later-added (long) columns carry the id, so appends stay compatible
    val extra = CommitLogIngest.declaredSchema(table).toSeq
      .flatMap(_.fieldNames).filterNot(Set("id", "p"))
    extra.foldLeft((from until from + n).map(i => (i, s"p$i")).toDF("id", "p"))(
        (d, c) => d.withColumn(c, col("id")))
      .write.format("graft-commitlog").option("path", table)
      .mode("append").save()
  }

  private def fillTo(table: String, latest: Long): Unit =
    while (CommitLogIngest.latestVersion(table) < latest)
      appendTo(table, 1000L * (CommitLogIngest.latestVersion(table) + 2), 3)

  test("copy-on-write DML, schema evolution, OPTIMIZE and overwrite") {
    val s = spark
    import s.implicits._
    val table = tmp("cow") + "/t"
    appendTo(table, 0L, 10)
    appendTo(table, 10L, 10)
    CommitLogIngest.deleteWhere(s, table, col("id") < 5L)
    // a column add, then its rename (a mapping-only schema action)
    (20L until 25L).map(i => (i, s"p$i", i * 2)).toDF("id", "p", "x")
      .write.format("graft-commitlog").option("path", table)
      .mode("append").save()
    CommitLogIngest.renameColumn(s, table, "x", "twice")
    CommitLogIngest.optimize(s, table)
    appendTo(table, 30L, 3)
    (100L until 110L).map(i => (i, s"o$i", i)).toDF("id", "p", "twice")
      .write.format("graft-commitlog").option("path", table)
      .mode("overwrite").save()
    fillTo(table, 21L)
    val want = checkParity(table)
    assert(want.values.flatMap(_.schema).toSet.size >= 3,
      "the history holds fewer schema generations than it wrote")
  }

  test("deletion-vector delete and update") {
    val s = spark
    val table = tmp("dv") + "/t"
    appendTo(table, 0L, 20)
    CommitLogIngest.setDvEnabled(table)
    CommitLogIngest.deleteWhere(s, table, col("id") < 3L)
    CommitLogIngest.updateWhere(s, table, col("id") === 7L,
      Map("p" -> lit("seven")))
    appendTo(table, 100L, 5)
    CommitLogIngest.deleteWhere(s, table, col("id") === 101L)
    fillTo(table, 12L)
    CommitLogIngest.deleteWhere(s, table, col("id") === 10L)
    fillTo(table, 21L)
    val want = checkParity(table)
    assert(want.values.exists(_.dvs.nonEmpty), "no version carried a mask")
  }

  test("two streaming query ids, empty-epoch tombstones, retention and time travel below the checkpoint") {
    val s = spark
    import s.implicits._
    val table = tmp("stream") + "/t"
    def run(epochs: Seq[Seq[Long]]): Unit = {
      val in = MemoryStream[(Long, String)](s)
      val q = in.toDF().toDF("id", "p")
        .writeStream.format("graft-commitlog").option("path", table)
        .option("checkpointLocation", tmp("ck"))
        .start()
      try epochs.foreach { ids =>
        in.addData(ids.map(i => (i, s"p$i")))
        q.processAllAvailable()
      } finally q.stop()
    }
    run((0L until 8L).map(i => if (i == 3) Seq.empty else Seq(i)))
    run((8L until 16L).map(i => Seq(i)))
    run((16L until 24L).map(i => if (i % 4 == 0) Seq.empty else Seq(i)))
    val want = checkParity(table)
    assert(want(want.keys.max).txns.size == 3,
      s"expected three query ids: ${want(want.keys.max).txns}")

    // logs written before every version came from a claim hold
    // ("empty", "") tombstone versions: stage and rename them by hand
    val fb = tmp("fb") + "/t"
    (0L until 22L).foreach { b =>
      if (b % 3 == 1) {
        Files.move(LogReplay.stageVersion(fb, Seq(("empty", ""))),
          Paths.get(fb, "log", s"version=$b"))
        if ((b + 1) % CommitLogIngest.CheckpointEvery == 0)
          LogReplay.writeCheckpoint(fb, b)
      } else
        assert(CommitLogIngest.commitAppend(Seq((b, "x")).toDF("id", "p"),
          fb) == b)
    }
    checkParity(fb)

    // retention below the latest checkpoint: everything at or above the
    // oldest surviving checkpoint still resolves, below it fails loudly
    val kept = logCopy(table)
    (0L to 9L).foreach(v => LayoutDirs.deleteQuiet(s"$kept/log/version=$v"))
    val vs = want.keys.toSeq.sorted
    vs.filter(_ >= 9L).reverse.foreach(v =>
      assert(resolved(kept, v) == want(v), s"after retention at $v"))
    vs.filter(_ < 9L).foreach { v =>
      val e = intercept[IllegalStateException](resolved(kept, v))
      assert(e.getMessage.contains("retention"), e.getMessage)
    }
  }
}
