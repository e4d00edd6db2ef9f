package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import graft.streaming.CommitLogIngest

/** The readStream direction of the commit-log table: versions are
  * offsets, each trigger delivers exactly the new versions' rows, and a
  * reader restarted from its checkpoint resumes where it stopped — the
  * downstream-pipeline contract (exactly-once per version through the
  * engine's offset log). */
class CommitLogSourceSpec extends SparkSuite {

  private def tmp(prefix: String): String = {
    val d = java.nio.file.Files.createTempDirectory(s"graft-clsrc-$prefix")
    d.toFile.deleteOnExit()
    d.toString
  }

  private class Collector {
    private val buf = scala.collection.mutable.ArrayBuffer.empty[Long]
    def add(rows: Seq[Long]): Unit = synchronized { buf ++= rows }
    def all: Seq[Long] = synchronized { buf.toList }
  }

  test("versions stream as micro-batches exactly once, across a reader restart") {
    val s = spark
    import s.implicits._
    implicit val sc = s.sqlContext
    val table = tmp("table")
    val writerCkpt = tmp("wck")
    val readerCkpt = tmp("rck")

    // writer: commit two waves before the reader exists (schema inference
    // needs a committed version)
    val in = MemoryStream[(Long, String)]
    val writer = in.toDF().toDF("id", "payload")
      .writeStream.format("graft-commitlog").option("path", table)
      .option("checkpointLocation", writerCkpt)
      .start()
    def wave(w: Int): Unit = {
      in.addData((0 until 50).map(i => (w * 50L + i, s"p$w-$i")))
      writer.processAllAvailable()
    }
    val got = new Collector
    def startReader() = s.readStream
      .format("graft-commitlog").option("path", table).load()
      .writeStream.option("checkpointLocation", readerCkpt)
      .foreachBatch { (b: DataFrame, _: Long) =>
        got.add(b.select("id").collect().map(_.getLong(0)).toSeq)
      }
      .start()

    try {
      wave(0); wave(1)
      val r1 = startReader()
      try {
        r1.processAllAvailable()
        assert(got.all.sorted == (0L until 100L),
          "reader did not deliver the pre-existing versions exactly once")
        wave(2)
        r1.processAllAvailable()
        assert(got.all.sorted == (0L until 150L),
          "reader missed or duplicated a live commit")
      } finally r1.stop()
      // two more commits while NO reader runs, then restart from the
      // same checkpoint: only the unseen versions may arrive
      wave(3); wave(4)
      val r2 = startReader()
      try {
        r2.processAllAvailable()
        assert(got.all.length == 250 && got.all.sorted == (0L until 250L),
          "restarted reader replayed or skipped versions")
      } finally r2.stop()
    } finally writer.stop()
  }

  test("the lakehouse loop composes: stream into the table, stream out into the maintained rollup") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.functions._
    implicit val sc = s.sqlContext
    val table = tmp("loop-table")
    val rollup = tmp("loop") + "/rollup"
    // events-shaped rows (canonical nanos-LONG ts), two days per wave
    def wave(w: Int): Seq[(Long, Long, Long, String, Double, String)] =
      (0 until 60).map { i =>
        val day = w + (i % 2)
        (w * 60L + i,
          (1704067200000L + day * 86400000L + i) * 1000000L,
          i.toLong % 7,
          if (i % 3 == 0) "click" else "view",
          (i % 13) / 2.0, "{}")
      }
    val in = MemoryStream[(Long, Long, Long, String, Double, String)]
    val writer = in.toDF()
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .writeStream.format("graft-commitlog").option("path", table)
      .option("checkpointLocation", tmp("loop-wck"))
      .start()
    try {
      in.addData(wave(0)); writer.processAllAvailable()
      val consumer = graft.sources.IncrementalRollup.start(
        s.readStream.format("graft-commitlog").option("path", table).load(),
        rollup, tmp("loop-rck"), triggerSec = 0)
      try {
        (1 until 4).foreach { w =>
          in.addData(wave(w)); writer.processAllAvailable()
          consumer.processAllAvailable()
        }
        consumer.processAllAvailable()
        // the maintained rollup equals a full recompute of everything sent
        val expect = (0 until 4).flatMap(wave)
          .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
          .groupBy(expr(
            s"ts div ${graft.model.Tables.NanosPerDay}").as("day"),
            col("event_type"))
          .agg(count(lit(1)).as("n"), round(sum(col("value")), 4).as("sv"))
          .collect().map(r => (r.getLong(0), r.getString(1)) ->
            (r.getLong(2), r.getDouble(3))).toMap
        val got = CommitLogIngest.snapshot(s, rollup)
          .select(col("day"), col("event_type"),
            col("n_events"), round(col("sum_value"), 4))
          .collect().map(r => (r.getLong(0), r.getString(1)) ->
            (r.getLong(2), r.getDouble(3))).toMap
        assert(got == expect,
          "rollup maintained from the table stream diverged from a full recompute")
      } finally consumer.stop()
    } finally writer.stop()
  }
}
