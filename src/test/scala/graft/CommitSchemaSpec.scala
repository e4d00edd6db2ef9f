package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.streaming.CommitLogIngest

/** Schema evolution as a log action: per-version schema resolution (a
  * pinned snapshot reads under its own generation's schema), change feeds
  * and streams deliver across the boundary with exact NULL placement, and
  * resolution survives log retention through the checkpoint's schema row. */
class CommitSchemaSpec extends SparkSuite {

  private def tmp(prefix: String): String = {
    val d = java.nio.file.Files.createTempDirectory(s"graft-schevo-$prefix")
    d.toFile.deleteOnExit()
    d.toString
  }

  test("snapshots resolve the schema as of their version; NULLs land on the old generation") {
    val s = spark
    import s.implicits._
    val table = tmp("asof")
    assert(CommitLogIngest.commitAppend(
      Seq((1L, "a"), (2L, "b")).toDF("id", "p"), table) == 0L)
    assert(CommitLogIngest.commitAppend(
      Seq((3L, "c", 30L), (4L, "d", 40L)).toDF("id", "p", "extra"),
      table) == 1L)

    assert(CommitLogIngest.schemaAt(s, table, 0L).get.fieldNames.toSeq ==
      Seq("id", "p"))
    assert(CommitLogIngest.schemaAt(s, table, 1L).get.fieldNames.toSeq ==
      Seq("id", "p", "extra"))

    // pinned BEFORE the change: the old generation's schema, no phantom column
    assert(CommitLogIngest.snapshot(s, table, 0L).columns.toSeq ==
      Seq("id", "p"))
    // latest: evolved schema, generation-1 rows null-fill exactly
    val latest = CommitLogIngest.snapshot(s, table)
      .select("id", "extra").collect()
      .map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) None else Some(r.getLong(1)))).toMap
    assert(latest == Map(1L -> None, 2L -> None,
      3L -> Some(30L), 4L -> Some(40L)),
      s"NULL placement across the boundary is wrong: $latest")
    // a change-feed poll spanning the boundary delivers the NEW schema
    val feed = CommitLogIngest.changes(s, table, -1L, 1L)
    assert(feed.columns.toSeq == Seq("id", "p", "extra"))
    assert(feed.filter(col("extra").isNull).count() == 2)
  }

  test("the DSv2 stream reads across the boundary; a pre-evolution reader keeps its schema") {
    val s = spark
    import s.implicits._
    val table = tmp("stream")
    assert(CommitLogIngest.commitAppend(
      Seq((1L, "a"), (2L, "b")).toDF("id", "p"), table) == 0L)

    // reader started BEFORE the evolution: schema fixed at start — later
    // generations project down to it (no crash, no phantom column)
    val oldGen = scala.collection.mutable.ArrayBuffer.empty[(Long, String)]
    val qOld = s.readStream.format("graft-commitlog").option("path", table)
      .load()
      .writeStream.option("checkpointLocation", tmp("old-ck"))
      .foreachBatch { (b: DataFrame, _: Long) =>
        assert(b.columns.toSeq == Seq("id", "p"))
        val rows = b.collect().map(r => (r.getLong(0), r.getString(1)))
        oldGen.synchronized { oldGen ++= rows }; ()
      }
      .start()
    try {
      qOld.processAllAvailable()
      assert(CommitLogIngest.commitAppend(
        Seq((3L, "c", 30L), (4L, "d", 40L)).toDF("id", "p", "extra"),
        table) == 1L)
      qOld.processAllAvailable()
    } finally qOld.stop()
    assert(oldGen.synchronized(oldGen.sorted.toList) ==
      List((1L, "a"), (2L, "b"), (3L, "c"), (4L, "d")),
      "pre-evolution reader mangled rows across the boundary")

    // a FRESH reader infers the evolved schema and null-fills generation 1
    val rows = scala.collection.mutable.ArrayBuffer
      .empty[(Long, Option[Long])]
    val q = s.readStream.format("graft-commitlog").option("path", table)
      .load()
      .writeStream.option("checkpointLocation", tmp("new-ck"))
      .foreachBatch { (b: DataFrame, _: Long) =>
        assert(b.columns.toSeq == Seq("id", "p", "extra"))
        val got = b.collect().map(r => (r.getLong(0),
          if (r.isNullAt(2)) None else Some(r.getLong(2))))
        rows.synchronized { rows ++= got }; ()
      }
      .start()
    try q.processAllAvailable() finally q.stop()
    assert(rows.synchronized(rows.sortBy(_._1).toList) ==
      List((1L, None), (2L, None), (3L, Some(30L)), (4L, Some(40L))))
  }

  test("schema resolution survives retention through the checkpoint's schema row") {
    val s = spark
    import s.implicits._
    val table = tmp("retention")
    val every = CommitLogIngest.CheckpointEvery.toInt
    // generation 1 at v0, evolution at v1, then data past the checkpoint
    assert(CommitLogIngest.commitAppend(
      Seq((0L, "g1")).toDF("id", "p"), table) == 0L)
    (1 until every + 2).foreach { v =>
      assert(CommitLogIngest.commitAppend(
        Seq((v.toLong, s"g2-$v", v * 10L)).toDF("id", "p", "extra"),
        table) == v.toLong)
    }
    val c = CommitLogIngest.lastCheckpoint(table)
    assert(c == every - 1L)
    // retention: drop every log partition at or below the checkpoint —
    // including version 1, which held the ("schema", json) action
    (0L to c).foreach { v =>
      graft.sources.LayoutDirs.deleteQuiet(s"$table/log/version=$v")
    }
    val st = CommitLogIngest.schemaAt(s, table,
      CommitLogIngest.latestVersion(table))
    assert(st.exists(_.fieldNames.toSeq == Seq("id", "p", "extra")),
      s"schema did not survive retention: $st")
    val snap = CommitLogIngest.snapshot(s, table)
    assert(snap.columns.toSeq == Seq("id", "p", "extra"))
    assert(snap.count() == every + 2L)
    assert(snap.filter(col("extra").isNull).count() == 1,
      "generation-1 null placement lost after retention")
  }

  test("the registry face: census equality is pinned by the oracle; spot-check the generations") {
    val s = spark
    val table = graft.sources.CommitSchemaEvolution.ensure(s, sf0001)
    val snap = CommitLogIngest.snapshot(s, table)
    assert(snap.columns.toSeq ==
      Seq("doc_id", "source", "n_chars", "quality"))
    val byGen = snap
      .groupBy((col("doc_id") % 2).as("gen"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("quality").isNull, 1L).otherwise(0L)).as("nulls"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2)))
      .toMap
    assert(byGen(0L)._1 == byGen(0L)._2,
      "generation 1 must be all-NULL quality")
    assert(byGen(1L)._2 == 0L,
      "generation 2 must have no NULL quality")
  }
}
