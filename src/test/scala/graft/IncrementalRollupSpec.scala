package graft

import org.apache.spark.sql.functions._
import graft.sources.{IncrementalRollup, PartitionPaths}
import graft.streaming.CommitLogIngest

/** The incremental rollup's reason to exist is O(delta) maintenance:
  * merging a batch must replace ONLY the day partitions the delta
  * touches, and its read of the existing rollup must prune to those
  * days. Value equality with a full recompute is the DuckDB oracle's job
  * (`src_incr_rollup`); this spec pins the maintenance mechanics the
  * oracle cannot see. */
class IncrementalRollupSpec extends SparkSuite {

  private val dayCol = expr(s"ts div ${graft.model.Tables.NanosPerDay}")

  // ts is CANONICAL nanos-since-epoch LONG (the shape Tables.events
  // normalizes every encoding to — buildBase/mergeDelta operate on
  // normalized frames; the staleness test's parquet round-trips through
  // Tables.events' plain-int64 path)
  private def synthEvents(nDays: Int, perDay: Int, valueSeed: Double) = {
    val s = spark
    import s.implicits._
    (0 until nDays * perDay).map { i =>
      val day = i / perDay
      (i.toLong,
        (1704067200000L + day.toLong * 86400000L + i % perDay) * 1000000L,
        (i % 7).toLong,
        if (i % 3 == 0) "click" else "view",
        valueSeed + i % 11,
        "{}")
    }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
  }

  private def tmpTable(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString + "/rollup"

  private def rows(table: String): Map[(Long, String), (Long, Double)] =
    CommitLogIngest.snapshot(spark, table)
      .select(col("day"), col("event_type"), col("n_events"),
        round(col("sum_value"), 4))
      .collect().map(r => (r.getLong(0), r.getString(1)) ->
        (r.getLong(2), r.getDouble(3))).toMap

  test("merge rewrites only the delta's day partitions") {
    val s = spark
    val table = tmpTable("graft-incr-mech")
    val events = synthEvents(nDays = 5, perDay = 60, valueSeed = 1.0)
    val dmax = events.agg(max(dayCol)).head().getLong(0)

    IncrementalRollup.buildBase(events.filter(dayCol < dmax), table)
    val before = CommitLogIngest.liveFiles(s, table, 0L)
    assert(before.map(PartitionPaths.segmentsOf).toSet.size == 4,
      "expected 4 base day dirs")

    // a delta touching one existing day and the new last day
    val delta = events.filter(dayCol === dmax || dayCol === dmax - 1)
    val v = IncrementalRollup.mergeDelta(s, table, delta)
    assert(v == 1L, s"the merge landed at version $v, expected 1")
    val after = CommitLogIngest.liveFiles(s, table, v)
    val touched = Set(s"day=${dmax - 1}", s"day=$dmax")
    val added = after.diff(before)
    val removed = before.diff(after)
    assert(added.nonEmpty &&
        added.map(PartitionPaths.segmentsOf).toSet == touched,
      s"merge added files outside the delta's days: $added")
    assert(removed.nonEmpty &&
        removed.forall(p => touched(PartitionPaths.segmentsOf(p))),
      s"merge removed files outside the delta's days: $removed")
    // every untouched day keeps its live files, same paths
    assert(before.filterNot(p => touched(PartitionPaths.segmentsOf(p)))
        .forall(after.contains),
      "an untouched partition was rewritten by the merge")
  }

  test("the merge's read of the existing rollup partition-prunes to touched days") {
    val s = spark
    val table = tmpTable("graft-incr-prune")
    val events = synthEvents(nDays = 6, perDay = 30, valueSeed = 2.0)
    IncrementalRollup.buildBase(events, table)
    val d0 = events.agg(min(dayCol)).head().getLong(0)
    val opened = filesOpened(table)(IncrementalRollup.mergeDelta(s, table,
      events.filter(dayCol === d0 || dayCol === d0 + 1)))
    assert(opened.nonEmpty, "the merge read opened no rollup files")
    assert(opened.forall(p => Set(s"day=$d0", s"day=${d0 + 1}")
        .contains(PartitionPaths.segmentsOf(p))),
      s"merge read opened untouched days' files (O(delta) maintenance " +
        s"violated): $opened")
    assert(opened.size < CommitLogIngest.liveFiles(s, table, 0L).size)
  }

  test("incremental base+merge equals a full recompute") {
    val s = spark
    val table = tmpTable("graft-incr-eq")
    val events = synthEvents(nDays = 4, perDay = 50, valueSeed = 3.0)
    val dmax = events.agg(max(dayCol)).head().getLong(0)
    IncrementalRollup.buildBase(events.filter(dayCol < dmax), table)
    IncrementalRollup.mergeDelta(s, table, events.filter(dayCol === dmax))

    val full = events
      .groupBy(dayCol.as("day"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        round(sum(col("value")), 4).as("sum_value"))
      .collect().map(r => (r.getLong(0), r.getString(1)) ->
        (r.getLong(2), r.getDouble(3))).toMap
    assert(rows(table) == full,
      s"incremental rollup diverged from full recompute")
  }

  test("single-day corpus: empty base build then delta merge bootstraps cleanly") {
    // all rows on one epoch day ⇒ buildBase runs on an EMPTY frame and
    // commits nothing; the merge must bootstrap the table itself
    val s = spark
    val table = tmpTable("graft-incr-oneday")
    val events = synthEvents(nDays = 1, perDay = 30, valueSeed = 6.0)
    val dmax = events.agg(max(dayCol)).head().getLong(0)
    IncrementalRollup.buildBase(events.filter(dayCol < dmax), table)
    assert(CommitLogIngest.latestVersion(table) == -1L)
    IncrementalRollup.mergeDelta(s, table, events.filter(dayCol === dmax))
    val n = rows(table).values.map(_._1).sum
    assert(n == 30, s"single-day bootstrap lost rows (rolled up $n of 30)")
    assert(CommitLogIngest.partitionColsOf(table) == Seq("day"))
  }

  test("base+merge rollup is invariant to shuffle partition count") {
    // counts are exact; double sums round before compare (the suite-wide
    // sum-oracle treatment) — a placement-sensitive merge would diverge
    val s = spark
    val events = synthEvents(nDays = 4, perDay = 45, valueSeed = 5.0)
    val dmax = events.agg(max(dayCol)).head().getLong(0)
    def buildAt(parts: String): Map[(Long, String), (Long, Double)] = {
      val prev = s.conf.get("spark.sql.shuffle.partitions")
      val table = tmpTable("graft-incr-inv")
      try {
        s.conf.set("spark.sql.shuffle.partitions", parts)
        IncrementalRollup.buildBase(events.filter(dayCol < dmax), table)
        IncrementalRollup.mergeDelta(s, table, events.filter(dayCol === dmax))
        rows(table)
      } finally s.conf.set("spark.sql.shuffle.partitions", prev)
    }
    val at4 = buildAt("4")
    val at37 = buildAt("37")
    assert(at4.nonEmpty && at4 == at37,
      "maintained rollup differs across partition counts")
  }

  test("regenerated events rebuild the rollup (fingerprint staleness)") {
    val s = spark
    val dir = java.nio.file.Files.createTempDirectory("graft-incr-stale")
    dir.toFile.deleteOnExit()
    val d = dir.toString
    def write(perDay: Int): Unit =
      synthEvents(nDays = 3, perDay = perDay, valueSeed = 4.0)
        .coalesce(1).write.mode("overwrite").parquet(s"$d/events.parquet")
    write(perDay = 20)
    val n1 = IncrementalRollup.rollupRead(s, d)
      .agg(sum(col("n_events"))).head().getLong(0)
    assert(n1 == 60, s"expected 60 events rolled up, got $n1")
    write(perDay = 40)
    val n2 = IncrementalRollup.rollupRead(s, d)
      .agg(sum(col("n_events"))).head().getLong(0)
    assert(n2 == 120,
      s"stale rollup served after events regeneration (saw $n2)")
  }
}
