package graft

import java.nio.file.{Files, Paths}
import java.sql.Timestamp

import graft.sources.OptimizeCommit
import graft.streaming.CommitLogIngest

/** The compaction commit's contract on the `src_compaction` table: the
  * fragmented ingest (v0) collapses to the byte-derived file count at v1,
  * the rewrite reclaims (never inflates) bytes, content survives
  * untouched, and the fingerprint cache rebuilds when the source
  * regenerates. Content equality against the original table is the
  * DuckDB oracle's job (`src_compaction`); this spec pins the file
  * mechanics the oracle cannot see. */
class CompactionSpec extends SparkSuite {

  private def bytes(files: Seq[String]): Long =
    files.map(p => Files.size(Paths.get(p))).sum

  test("fragmented table collapses to the byte-derived file count") {
    val s = spark
    val table = OptimizeCommit.ensureEvents(s, sf0001)
    val frag = CommitLogIngest.liveFiles(s, table, 0L)
    val comp = CommitLogIngest.liveFiles(s, table, 1L)
    assert(frag.size == OptimizeCommit.FragmentCount,
      s"fragmented version has ${frag.size} files, expected " +
        s"${OptimizeCommit.FragmentCount}")
    val target = OptimizeCommit.TargetFileBytes
    val expected = math.max(1L, (bytes(frag) + target - 1) / target)
    assert(comp.size == expected,
      s"compacted version has ${comp.size} files, expected $expected")
    assert(comp.size < frag.size / 4,
      s"compaction barely compacted: ${frag.size} -> ${comp.size} files")
  }

  test("compaction reclaims bytes and keeps every row") {
    val s = spark
    val table = OptimizeCommit.ensureEvents(s, sf0001)
    // tiny-file footer overhead is reclaimed, never inflated
    assert(bytes(CommitLogIngest.liveFiles(s, table, 1L)) <=
        bytes(CommitLogIngest.liveFiles(s, table, 0L)),
      "compacted version is larger than the fragmented input")
    // membership: compaction is a pure layout move
    val nRows = CommitLogIngest.snapshot(s, table, 1L).count()
    val nOrig = graft.model.Tables.events(s, sf0001).count()
    assert(nRows == nOrig, s"compaction changed row count: $nOrig -> $nRows")
  }

  test("regenerated events rebuild the compacted layout (fingerprint staleness)") {
    val s = spark
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-compact-stale")
    dir.toFile.deleteOnExit()
    val d = dir.toString

    def write(n: Int): Unit =
      (0 until n).map { i =>
        (i.toLong, new Timestamp(1704067200000L + i.toLong * 1000L),
          (i % 5).toLong, "click", 1.0, "{}")
      }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .coalesce(1)
        .write.mode("overwrite").parquet(s"$d/events.parquet")

    def compacted(): Long =
      CommitLogIngest.snapshot(s, OptimizeCommit.ensureEvents(s, d), 1L)
        .count()

    write(200)
    assert(compacted() == 200)

    // regenerate under the SAME path: a stale cache would keep serving
    // the 200-row compaction of the old bytes
    write(300)
    assert(compacted() == 300,
      "stale compacted layout served after source regeneration")
  }
}
