package graft

import java.sql.Timestamp

import org.apache.spark.sql.functions._
import graft.sources.{PartitionPaths, PartitionedCommit}
import graft.streaming.CommitLogIngest

/** The day-partitioned events table's reason to exist is directory-level
  * time pruning: a day-bounded read of version 1 (every event, before the
  * delete) must open only the queried days' files, statically for a
  * literal window and at runtime for a dim join (Tables.scala documents
  * that the canonical-ts projection defeats raw ts-range pushdown — the
  * partitioned table is the storage answer). rows+hash content equality
  * is the DuckDB oracle's job (`src_events_layout`, `src_events_dpp`);
  * this spec pins the pruning and the regeneration-staleness contract. */
class EventsLayoutSpec extends SparkSuite {

  private def days(files: Seq[String]): Set[String] =
    files.map(PartitionPaths.segmentsOf).toSet

  test("two-day window read prunes to the queried day partitions") {
    val s = spark
    val table = PartitionedCommit.ensure(s, sf0001)
    val d0 = PartitionedCommit.firstDay(s, sf0001)
    val df = PartitionedCommit.eventsWindowRead(s, sf0001)
    val files = filesOpened(table)(df.collect())
    assert(files.nonEmpty, "the window read opened no table files")
    assert(days(files).subsetOf(Set(s"day=$d0", s"day=${d0 + 1}")),
      s"window read opened files outside its two days: ${days(files)}")
    val live = CommitLogIngest.liveFiles(s, table, 1L)
    assert(days(live).size > 2,
      s"table only has ${days(live).size} day dirs — pruning is vacuous")
  }

  test("dim-filtered join prunes fact partitions dynamically (DPP)") {
    val s = spark
    val table = PartitionedCommit.ensure(s, sf0001)
    val d0 = PartitionedCommit.firstDay(s, sf0001)
    val df = PartitionedCommit.eventsDppJoin(s, sf0001)
    val files = filesOpened(table)(df.collect())
    assert(df.queryExecution.executedPlan.toString.contains("dynamicpruning"),
      "fact scan has no dynamic pruning filter — the dim's day set is " +
        "not pruning the table")
    val live = CommitLogIngest.liveFiles(s, table, 1L)
    assert(files.nonEmpty && files.size < live.size,
      s"DPP read opened ${files.size} of ${live.size} live files")
    assert(days(files).subsetOf(Set(s"day=$d0", s"day=${d0 + 1}")),
      s"DPP read opened files outside the dim's days: ${days(files)}")
  }

  test("layout census reconciles with the original events table") {
    val s = spark
    val fromLayout = s.read.format("graft-commitlog")
      .option("path", PartitionedCommit.ensure(s, sf0001))
      .option("versionAsOf", "1").load()
      .groupBy(col("day")).agg(count(lit(1)).as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val fromTable = graft.model.Tables.events(s, sf0001)
      .groupBy(expr(s"ts div ${graft.model.Tables.NanosPerDay}").as("day"))
      .agg(count(lit(1)).as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fromLayout == fromTable,
      s"partitioned layout census $fromLayout != events census $fromTable")
  }

  test("regenerated events rebuild the layout (fingerprint staleness)") {
    val s = spark
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-events-stale")
    dir.toFile.deleteOnExit()
    val d = dir.toString

    // every third event is a purchase: the build's version 2 deletes them
    def write(nDays: Int): Unit =
      (0 until nDays * 3).map { i =>
        (i.toLong, new Timestamp(1704067200000L + i.toLong / 3 * 86400000L),
          (i % 5).toLong, if (i % 3 == 0) "purchase" else "click", 1.0, "{}")
      }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .coalesce(1)
        .write.mode("overwrite").parquet(s"$d/events.parquet")

    def nDays(): Long =
      s.read.format("graft-commitlog")
        .option("path", PartitionedCommit.ensure(s, d))
        .option("versionAsOf", "1").load()
        .select(col("day")).distinct().count()

    write(nDays = 4)
    val days1 = nDays()
    assert(days1 == 4, s"expected 4 day dirs, got $days1")

    // regenerate with more days under the SAME path: a stale table would
    // keep serving the 4-day carve of the old bytes
    write(nDays = 6)
    val days2 = nDays()
    assert(days2 == 6,
      s"stale events layout served after regeneration (saw $days2 days)")
  }
}
