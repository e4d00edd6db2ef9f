package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._
import graft.model.Tables
import graft.sources.{CommitLogReadTracker, CommitLogReads}
import graft.streaming.CommitLogIngest

/** Versioned reads over the commit-log documents table are file-level
  * contracts: which paths a version reads, which files a commit shares
  * untouched, what vacuum may reclaim. Value correctness of the
  * registered reads is the DuckDB oracles' job (`src_time_travel`,
  * `src_snapshot_diff`, `src_index_sync`). */
class TimeTravelSpec extends SparkSuite {

  private def table: String = CommitLogReads.documents(spark, sf0001).table
  private def live(v: Long): Set[String] =
    CommitLogIngest.liveFiles(spark, table, v).toSet

  test("version 0 reads the complete corpus; version 1 the post-delete rows") {
    val s = spark
    val docs = Tables.documents(s, sf0001)
    val v0 = CommitLogIngest.snapshot(s, table, 0L)
    assert(v0.count() == docs.count(), "v0 lost or duplicated rows")
    assert(v0.agg(sum(col("n_chars"))).head().getLong(0) ==
      docs.agg(sum(col("n_chars"))).head().getLong(0))
    val k = CommitLogReads.documents(s, sf0001).cut
    val v1 = CommitLogIngest.snapshot(s, table, 1L)
    assert(v1.count() == docs.filter(col("doc_id") > k).count(),
      "v1 does not equal the copy-on-write delete's survivor set")
    assert(v1.agg(min(col("doc_id"))).head().getLong(0) > k)
  }

  test("the delete commit is copy-on-write: untouched files shared, removed files never opened") {
    val (live0, live1) = (live(0L), live(1L))
    assert((live0 & live1).nonEmpty, "no file survived the commit untouched")
    assert((live1 -- live0).nonEmpty, "the commit added no rewrite file")
    val removed = live0 -- live1
    assert(removed.nonEmpty, "the commit removed nothing")
    val opened = CommitLogIngest.snapshot(spark, table, 1L).inputFiles
      .map(f => new java.net.URI(f).getPath).toSet
    assert((opened & removed).isEmpty,
      s"v1 read opened removed paths: ${(opened & removed).take(2)}")
  }

  test("snapshot diff from changed files equals the row-level delta") {
    val s = spark
    val deleted = CommitLogReads.snapshotDiff(s, sf0001)
      .agg(sum(col("n_deleted"))).head().getLong(0)
    val v0n = CommitLogIngest.snapshot(s, table, 0L).count()
    val v1n = CommitLogIngest.snapshot(s, table, 1L).count()
    assert(deleted > 0, "the built layout's delete commit was empty")
    assert(deleted == v0n - v1n,
      s"diff says $deleted deletes but the snapshots differ by ${v0n - v1n}")
  }

  test("stats index agrees with every live file's recomputed min/max; range read opens <= 3 files") {
    val s = spark
    val live1 = live(1L).toSeq
    val indexed = s.read.option("mergeSchema", "true")
      .parquet(table + "/index")
      .filter(col("path").isin(live1: _*))
      .collect().map(r => r.getAs[String]("path") ->
        (r.getAs[Long]("min_key"), r.getAs[Long]("max_key"),
          r.getAs[Long]("rows"))).toMap
    val truth = s.read.parquet(live1: _*)
      .groupBy(input_file_name().as("path"))
      .agg(min(col("doc_id")), max(col("doc_id")), count(lit(1)))
      .collect().map(r => new java.net.URI(r.getString(0)).getPath ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(indexed == truth,
      "index rows diverged from the live files' stats after the commit")
    CommitLogReadTracker.enable()
    val rows = try CommitLogReads.rangeLookup(s, sf0001).collect()
      finally CommitLogReadTracker.disable()
    val opened = CommitLogReadTracker.drain().distinct.size
    assert(rows.length == 1 && rows(0).getLong(0) > 0)
    assert(opened >= 1 && opened <= 3,
      s"range lookup opened $opened of ${live1.size} live files")
    assert(live1.size >= 6, "too few files — the skip property is vacuous")
  }

  test("vacuum reclaims exactly the unreachable files; retained version intact") {
    val s = spark
    val (live0, live1) = (live(0L), live(1L))
    val before = CommitLogIngest.snapshot(s, table, 1L).count()
    val dropped = CommitLogIngest.vacuum(s, table, retainMin = 1L)
    try {
      assert(dropped.toSet == live0 -- live1,
        "vacuum did not reclaim exactly the v0-only files")
      assert(dropped.forall(p => !Files.exists(Paths.get(p))),
        "a reclaimed path still exists on disk")
      assert(live1.forall(p => Files.exists(Paths.get(p))),
        "vacuum touched a retained file")
      assert(CommitLogIngest.snapshot(s, table, 1L).count() == before,
        "the retained snapshot changed after vacuum")
    } finally CommitLogReads.clearCache() // v0 is gone; later reads rebuild
  }

  test("regenerated documents rebuild the layout (fingerprint staleness)") {
    val s = spark
    import s.implicits._
    val dir = Files.createTempDirectory("graft-tt-stale")
    dir.toFile.deleteOnExit()
    val d = dir.toString
    def write(n: Int): Unit =
      (0 until n).map(i =>
          (i.toLong, s"doc $i", "en", s"src${i % 3}", i.toLong))
        .toDF("doc_id", "text", "lang", "source", "n_chars")
        .coalesce(1).write.mode("overwrite")
        .parquet(s"$d/documents.parquet")
    write(40) // K = 3 -> 36 survivors
    val n1 = CommitLogReads.latestCensus(s, d)
      .agg(sum(col("n_docs"))).head().getLong(0)
    assert(n1 == 36, s"expected 36 survivors at n=40, got $n1")
    write(110) // K = 10 -> 99 survivors
    val n2 = CommitLogReads.latestCensus(s, d)
      .agg(sum(col("n_docs"))).head().getLong(0)
    assert(n2 == 99,
      s"stale snapshot served after documents regeneration (saw $n2)")
  }
}
