package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.sources.IncrementalRollup
import graft.streaming.CommitLogIngest

/** The streaming driver of the maintained rollup (E-115's production
  * shape, `IncrementalRollup.start`): per micro-batch O(batch) merges
  * must reach batch parity with a full recompute, survive a restart from
  * the same checkpoint, and be idempotent under foreachBatch's
  * at-least-once batch replay (the txn marker in each merge commit). */
class RollupMaintenanceSpec extends SparkSuite {

  private val NanosPerDay = graft.model.Tables.NanosPerDay
  private val Qid = "rollup"

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(s"graft-rollup-$prefix").toString

  // (event_id, ts nanos LONG, user_id, event_type, value, props)
  private def wave(day: Int, n: Int, eType: String, v: Double) =
    (0 until n).map { i =>
      (day.toLong * 1000 + i,
        (1704067200000L + day.toLong * 86400000L + i) * 1000000L,
        i.toLong % 5, eType, v, "{}")
    }

  private def rollup(dir: String): Map[(Long, String), (Long, Double)] =
    CommitLogIngest.snapshot(spark, dir)
      .select(col("day"), col("event_type"),
        col("n_events"), round(col("sum_value"), 4))
      .collect()
      .map(r => (r.getLong(0), r.getString(1)) ->
        (r.getLong(2), r.getDouble(3))).toMap

  private def recompute(
      rows: Seq[(Long, Long, Long, String, Double, String)])
      : Map[(Long, String), (Long, Double)] = {
    val s = spark
    import s.implicits._
    rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .groupBy(expr(s"ts div $NanosPerDay").as("day"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 4).as("sv"))
      .collect()
      .map(r => (r.getLong(0), r.getString(1)) ->
        (r.getLong(2), r.getDouble(3))).toMap
  }

  test("streamed merges reach batch parity and survive a checkpoint restart") {
    val s = spark
    import s.implicits._
    implicit val sc = s.sqlContext
    val dir = tmp("parity") + "/rollup"
    val ckpt = tmp("ckpt")
    val stream = MemoryStream[(Long, Long, Long, String, Double, String)]
    def events: DataFrame = stream.toDF()
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")

    val w1 = wave(day = 0, n = 40, eType = "click", v = 1.5)
    val w2 = wave(day = 0, n = 25, eType = "view", v = 2.0) ++
      wave(day = 1, n = 30, eType = "click", v = 0.5)
    val q1 = IncrementalRollup.start(events, dir, ckpt)
    try {
      stream.addData(w1)
      q1.processAllAvailable()
      stream.addData(w2)
      q1.processAllAvailable()
    } finally q1.stop()
    assert(rollup(dir) == recompute(w1 ++ w2),
      "streamed rollup diverged from full recompute before restart")

    // restart from the SAME checkpoint: already-merged batches must not
    // re-merge (their partials would double), new data must keep merging
    val w3 = wave(day = 1, n = 15, eType = "view", v = 3.0)
    val q2 = IncrementalRollup.start(events, dir, ckpt)
    try {
      stream.addData(w3)
      q2.processAllAvailable()
    } finally q2.stop()
    assert(rollup(dir) == recompute(w1 ++ w2 ++ w3),
      "streamed rollup diverged after checkpoint restart")
  }

  test("an empty first micro-batch neither crashes nor blocks later merges") {
    // an empty batch 0 commits nothing (an idle trigger must not churn
    // versions); batch 1 must then bootstrap the table
    val s = spark
    import s.implicits._
    val dir = tmp("emptyfirst") + "/rollup"
    val schema = wave(day = 3, n = 1, eType = "click", v = 1.0)
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    assert(IncrementalRollup.mergeDelta(s, dir, schema.limit(0),
      Some(0L)) == -1L)
    assert(CommitLogIngest.latestVersion(dir) == -1L)
    val batch = wave(day = 3, n = 25, eType = "click", v = 1.0)
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    IncrementalRollup.mergeDelta(s, dir, batch, Some(1L))
    assert(rollup(dir).values.map(_._1).sum == 25L,
      "merge after an empty first batch lost rows")
  }

  test("a replayed batchId is a no-op (at-least-once idempotence gate)") {
    val s = spark
    import s.implicits._
    val dir = tmp("replay") + "/rollup"
    val batch = wave(day = 2, n = 20, eType = "click", v = 1.0)
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    IncrementalRollup.mergeDelta(s, dir, batch, Some(0L))
    val once = rollup(dir)
    val v = CommitLogIngest.latestVersion(dir)
    assert(IncrementalRollup.mergeDelta(s, dir, batch, Some(0L)) == -1L,
      "a replayed batch committed") // replay
    assert(rollup(dir) == once,
      "replayed batch double-counted into the rollup")
    assert(CommitLogIngest.latestVersion(dir) == v)
    assert(CommitLogIngest.lastTxnEpoch(s, dir, Qid) == 0L)
    // the NEXT batch still merges
    val next = wave(day = 2, n = 10, eType = "view", v = 2.0)
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    IncrementalRollup.mergeDelta(s, dir, next, Some(1L))
    assert(rollup(dir).values.map(_._1).sum == 30L)
  }
}
