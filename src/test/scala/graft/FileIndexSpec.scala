package graft

import org.apache.spark.sql.functions._
import graft.sources.CommitLogReads
import graft.streaming.CommitLogIngest

/** The commit-time file index's contract is planner-side skipping over
  * the user-sorted commit-log events table: the index must agree with the
  * data files' true min/max, and a point read must open a bounded
  * handful of files, not the table. Value correctness is the DuckDB
  * oracle's job (`src_file_index`). */
class FileIndexSpec extends SparkSuite {

  private def table: String = CommitLogReads.events(spark, sf0001)
  private def liveFiles: Seq[String] = CommitLogIngest.liveFiles(spark,
    table, CommitLogIngest.latestVersion(table))
  private def index =
    spark.read.option("mergeSchema", "true").parquet(table + "/index")

  test("index rows agree with each file's recomputed min/max and count") {
    val s = spark
    val indexed = index.collect().map(r => r.getAs[String]("path") ->
        (r.getAs[Long]("min_key"), r.getAs[Long]("max_key"),
          r.getAs[Long]("rows"))).toMap
    val truth = s.read.parquet(liveFiles: _*)
      .groupBy(input_file_name().as("path"))
      .agg(min(col("user_id")), max(col("user_id")), count(lit(1)))
      .collect().map(r => new java.net.URI(r.getString(0)).getPath ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(indexed == truth, "index diverged from the data files' stats")
    // the range partitioner may collapse near-empty ranges on a small
    // key space, so the realized count can undershoot EventFiles slightly
    assert(indexed.size >= CommitLogReads.EventFiles / 2,
      s"only ${indexed.size} files — the skip property is vacuous")
  }

  test("a point lookup opens <= 2 of the layout's files") {
    val df = CommitLogReads.pointLookup(spark, sf0001)
    assert(df.count() == 1)
    val opened = df.inputFiles.length
    val total = liveFiles.size
    assert(opened <= 2,
      s"point lookup opened $opened of $total files — index did not skip")
    assert(total >= CommitLogReads.EventFiles / 2)
  }

  test("every user is covered by at least one indexed file") {
    // completeness: skipping must never LOSE a key — each user's range
    // query over the index is non-empty
    val uncovered = graft.model.Tables.events(spark, sf0001)
      .select(col("user_id")).distinct().as("u")
      .join(index.as("i"),
        col("u.user_id") >= col("i.min_key") &&
          col("u.user_id") <= col("i.max_key"),
        "left_anti")
      .count()
    assert(uncovered == 0, s"$uncovered users match NO indexed file")
  }

  test("regenerated events rebuild layout and index (fingerprint staleness)") {
    val s = spark
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-fidx-stale")
    dir.toFile.deleteOnExit()
    val d = dir.toString
    def write(n: Int): Unit =
      (0 until n).map(i => (i.toLong,
          (1704067200000L + i.toLong) * 1000000L,
          i.toLong % 11, "click", 1.0, "{}"))
        .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .coalesce(1).write.mode("overwrite").parquet(s"$d/events.parquet")
    write(40)
    val n1 = CommitLogReads.pointLookup(s, d).head().getLong(1)
    assert(n1 == 4, s"expected 4 events for the min user, got $n1")
    write(110)
    val n2 = CommitLogReads.pointLookup(s, d).head().getLong(1)
    assert(n2 == 10,
      s"stale file index served after events regeneration (saw $n2)")
  }
}
