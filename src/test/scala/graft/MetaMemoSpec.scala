package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.streaming.CommitLogIngest

/** The round-15 metadata memos (liveState / schemaAt keyed by
  * (tableDir, version)) must be INVISIBLE semantically: a memo hit for
  * one version can never leak into another, and a new commit — the only
  * thing that can change table state — always lands under a new key.
  * This spec drives one table through append / schema-evolving append /
  * delete, interleaving reads so every version's state is FIRST resolved
  * (and cached) while it is latest, then re-resolved after later commits
  * mutated the table — the exact access pattern a stale memo would
  * corrupt. */
class MetaMemoSpec extends SparkSuite {

  test("liveState and schemaAt stay version-accurate across commits") {
    val s = spark
    import s.implicits._
    val table = Files.createTempDirectory("graft-memospec").toString + "/t"

    assert(CommitLogIngest.commitAppend(
      Seq((1L, "a"), (2L, "b")).toDF("id", "p"), table) == 0L)
    // resolve (and memoize) v0 while it is latest
    val live0 = CommitLogIngest.liveState(spark, table, 0L)._1
    assert(live0.nonEmpty)
    assert(CommitLogIngest.snapshot(spark, table).count() == 2)

    // v1: append — the same-version re-read must come from the memo's
    // key space without seeing v1's files, and v1 must see both commits
    assert(CommitLogIngest.commitAppend(
      Seq((3L, "c")).toDF("id", "p"), table) == 1L)
    assert(CommitLogIngest.liveState(spark, table, 0L)._1 == live0,
      "v0's live set changed after a later commit (stale/leaky memo)")
    val live1 = CommitLogIngest.liveState(spark, table, 1L)._1
    assert(live1.size > live0.size && live0.forall(live1.contains))
    assert(CommitLogIngest.snapshot(spark, table, 0L).count() == 2)
    assert(CommitLogIngest.snapshot(spark, table, 1L).count() == 3)

    // v2: schema-evolving append — schemaAt(v1) was never resolved
    // before this commit; schemaAt must still answer per-version, not
    // per-table
    assert(CommitLogIngest.commitAppend(
      Seq((4L, "d", 40L)).toDF("id", "p", "extra"), table) == 2L)
    val s1 = CommitLogIngest.schemaAt(spark, table, 1L)
    val s2 = CommitLogIngest.schemaAt(spark, table, 2L)
    assert(s2.exists(_.fieldNames.contains("extra")),
      s"v2 schema lost the evolved column: $s2")
    assert(!s1.exists(_.fieldNames.contains("extra")),
      s"v1 schema shows a column added at v2 (stale/leaky memo): $s1")

    // v3: copy-on-write delete — the rewrite must surface at v3 while
    // the memoized v2 live set stays the pre-delete one
    val live2 = CommitLogIngest.liveState(spark, table, 2L)._1
    val (delV, _) = CommitLogIngest.deleteWhere(spark, table,
      col("id") === 1L)
    assert(delV == 3L)
    assert(CommitLogIngest.liveState(spark, table, 2L)._1 == live2)
    val live3 = CommitLogIngest.liveState(spark, table, 3L)._1
    assert(live3 != live2, "delete did not change the live file set")
    assert(CommitLogIngest.snapshot(spark, table, 3L)
      .filter(col("id") === 1L).count() == 0)
    assert(CommitLogIngest.snapshot(spark, table, 2L)
      .filter(col("id") === 1L).count() == 1)
  }
}
