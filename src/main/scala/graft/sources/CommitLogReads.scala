package graft.sources

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Q
import graft.model.Tables
import graft.streaming.CommitLogIngest

/** Versioned reads and index-pruned reads over commit-log tables built by
  * `CommitLogIngest` — the table format's log (last action per path
  * wins), its commit-time min/max index and its change feed, each
  * answering a DuckDB oracle computed from the ORIGINAL parquet.
  *
  *  - documents: v0 is one `commitAppend` range-partitioned by doc_id
  *    (indexed on doc_id), v1 a copy-on-write `deleteWhere` of the low
  *    10% of the doc_id span (K = mn + (mx-mn) div 10, long arithmetic —
  *    the rule the oracles replay). Only the files holding doc_id ≤ K are
  *    rewritten; every other file is shared by both versions.
  *    - `src_time_travel`: census of the latest snapshot (`snapshot`,
  *      a native parquet scan over the memoized live files).
  *    - `src_snapshot_diff`: the `delete` rows of `changeFeed(0, 1)`,
  *      diffed from the changed files only — O(commit), never O(table).
  *    - `src_index_sync`: a `graft-commitlog` read of the doc_id range
  *      (K, mn + span/5]; the index prunes it to the ≤3 files that
  *      overlap (it straddles the rewrite and its right neighbour).
  *  - events: range-partitioned by user_id into ≥16 files, indexed on
  *    user_id. `src_file_index` is `pointRead` of the minimum user, which
  *    opens 1-2 files.
  *
  * `TimeTravelSpec` and `FileIndexSpec` pin what the oracles cannot see:
  * file sharing, the files each read opens, vacuum, index completeness
  * and fingerprint staleness. */
object CommitLogReads {

  /** Byte-derived data-file counts (TargetFileBytes per file at scale,
    * floors so the copy-on-write and skipping properties are real at
    * test SFs). */
  val DocFiles = 8
  val EventFiles = 16
  val TargetFileBytes = 128L * 1024L * 1024L

  private def nFiles(sfDir: String, table: String, floor: Int): Int = {
    val bytes =
      try {
        val s = Files.walk(Paths.get(sfDir, table))
        try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum()
        finally s.close()
      } catch { case _: Exception => 0L }
    math.max(floor, (bytes / TargetFileBytes).toInt)
  }


  /** The documents table and its doc_id bounds: the delete cutoff K and
    * the top of the range read. */
  private[graft] final case class Docs(table: String, cut: Long, hi: Long)

  private val docsCache =
    new LayoutCache[Docs](d => LayoutDirs.deleteParent(d.table))
  private val eventsCache = new LayoutCache[String](LayoutDirs.deleteParent)

  private[graft] def documents(spark: SparkSession, sfDir: String): Docs =
    docsCache.get(sfDir, "documents.parquet") {
      val table = Files.createTempDirectory("graft-commitlog-reads")
        .toString + "/documents"
      val docs = Tables.documents(spark, sfDir)
      val b = docs.agg(min(col("doc_id")), max(col("doc_id"))).head()
      val (mn, mx) = (b.getLong(0), b.getLong(1))
      val cut = mn + (mx - mn) / 10
      CommitLogIngest.commitAppend(
        docs.repartitionByRange(nFiles(sfDir, "documents.parquet", DocFiles),
          col("doc_id")).sortWithinPartitions(col("doc_id")),
        table, statsCol = Some("doc_id"))
      val (v1, rewritten) = CommitLogIngest.deleteWhere(spark, table,
        col("doc_id") <= cut, statsCol = Some("doc_id"))
      require(v1 == 1L && rewritten > 0,
        s"delete did not commit: version $v1, $rewritten files")
      Docs(table, cut, mn + (mx - mn) / 5)
    }

  private[graft] def events(spark: SparkSession, sfDir: String): String =
    eventsCache.get(sfDir, "events.parquet") {
      val table = Files.createTempDirectory("graft-commitlog-reads")
        .toString + "/events"
      CommitLogIngest.commitAppend(
        Tables.events(spark, sfDir)
          .repartitionByRange(nFiles(sfDir, "events.parquet", EventFiles),
            col("user_id"))
          .sortWithinPartitions(col("user_id")),
        table, statsCol = Some("user_id"))
      table
    }

  /** Census of the latest snapshot, read through the log. */
  def latestCensus(spark: SparkSession, sfDir: String): DataFrame =
    CommitLogIngest.snapshot(spark, documents(spark, sfDir).table)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("sum_chars"),
        min(col("doc_id")).as("min_doc"))

  val latestCensusSql: String =
    """WITH b AS (SELECT MIN(doc_id) AS mn, MAX(doc_id) AS mx
      |           FROM documents)
      |SELECT source, COUNT(*) AS n_docs,
      |  CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
      |  MIN(doc_id) AS min_doc
      |FROM documents, b
      |WHERE doc_id > b.mn + (b.mx - b.mn) // 10
      |GROUP BY source""".stripMargin

  /** The rows the v1 delete removed, from its change feed. */
  def snapshotDiff(spark: SparkSession, sfDir: String): DataFrame =
    CommitLogIngest.changeFeed(spark, documents(spark, sfDir).table, 0L, 1L)
      .filter(col("_change_type") === "delete")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_deleted"),
        sum(col("n_chars")).as("chars_deleted"))

  val snapshotDiffSql: String =
    """WITH b AS (SELECT MIN(doc_id) AS mn, MAX(doc_id) AS mx
      |           FROM documents)
      |SELECT source, COUNT(*) AS n_deleted,
      |  CAST(SUM(n_chars) AS BIGINT) AS chars_deleted
      |FROM documents, b
      |WHERE doc_id <= b.mn + (b.mx - b.mn) // 10
      |GROUP BY source""".stripMargin

  /** Range read at the latest version through the `graft-commitlog`
    * reader: the pushed doc_id bounds prune the live files by index. */
  def rangeLookup(spark: SparkSession, sfDir: String): DataFrame = {
    val d = documents(spark, sfDir)
    spark.read.format("graft-commitlog").option("path", d.table).load()
      .filter(col("doc_id") > d.cut && col("doc_id") <= d.hi)
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("sum_chars"),
        min(col("doc_id")).as("lo_doc"),
        max(col("doc_id")).as("hi_doc"))
  }

  val rangeLookupSql: String =
    """WITH b AS (SELECT MIN(doc_id) AS mn, MAX(doc_id) AS mx
      |           FROM documents)
      |SELECT COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
      |  MIN(doc_id) AS lo_doc, MAX(doc_id) AS hi_doc
      |FROM documents, b
      |WHERE doc_id > b.mn + (b.mx - b.mn) // 10
      |  AND doc_id <= b.mn + (b.mx - b.mn) // 5""".stripMargin

  /** Census of one user's events through the index: only the files whose
    * [min, max] covers the user are opened. The probe user is the corpus
    * minimum (the stand-in for a point-lookup literal). */
  def pointLookup(spark: SparkSession, sfDir: String): DataFrame = {
    val table = events(spark, sfDir)
    val u0 = Tables.events(spark, sfDir)
      .agg(min(col("user_id"))).head().getLong(0)
    CommitLogIngest.pointRead(spark, table, "user_id", u0)
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        countDistinct(expr(s"ts div ${Tables.NanosPerDay}"))
          .as("n_days"),
        round(sum(col("value")), 4).as("sum_value"))
  }

  val pointLookupSql: String =
    """WITH m AS (SELECT MIN(user_id) AS u FROM events)
      |SELECT e.user_id, COUNT(*) AS n_events,
      |  CAST(COUNT(DISTINCT epoch_ms(e.ts) // 86400000) AS BIGINT)
      |    AS n_days,
      |  ROUND(SUM(e.value), 4) AS sum_value
      |FROM events e, m WHERE e.user_id = m.u
      |GROUP BY e.user_id""".stripMargin

  /** Test hook: drop cached layouts (the shared clear contract). */
  private[graft] def clearCache(): Unit = {
    docsCache.clear()
    eventsCache.clear()
  }

  def queries: Map[String, Q] = Map(
    "src_time_travel" -> Q(latestCensusSql)(latestCensus),
    "src_snapshot_diff" -> Q(snapshotDiffSql)(snapshotDiff),
    "src_index_sync" -> Q(rangeLookupSql)(rangeLookup),
    "src_file_index" -> Q(pointLookupSql)(pointLookup))
}
