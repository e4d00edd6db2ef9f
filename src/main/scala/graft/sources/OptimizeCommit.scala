package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Q
import graft.model.Tables
import graft.streaming.CommitLogIngest

/** OPTIMIZE as a commit-log citizen — a real lakehouse compacts THROUGH
  * the log: one
  * commit records add(compacted) + remove(smalls) atomically with no
  * logical change, so it composes with everything the log already gives —
  * pinned readers keep their pre-compaction snapshot, time travel still
  * reaches it, vacuum reclaims the small files only after retention, and
  * the commit-time stats index follows the rewrite in the same commit.
  *
  * The registry face builds a documents-backed commit-log table the way a
  * streaming ingest fragments one (six multi-writer `commitAppend` commits,
  * each split into several files), runs `CommitLogIngest.optimize` (range-
  * clustered on `doc_id`, the indexed column), and reads the census of the
  * LATEST snapshot through the log. The DuckDB oracle computes the same
  * census from the ORIGINAL documents parquet — equality proves the
  * rewrite was a pure layout move. `OptimizeCommitSpec` pins what the
  * oracle cannot see: the pre-compaction version stays readable and
  * identical, live file count actually drops, vacuum reclaims exactly the
  * replaced smalls, and point reads keep pruning through the refreshed
  * index.
  *
  * 100-TB shape: the rewrite reads only the files it replaces (never the
  * table), the commit is one atomic rename, and because `optimize` skips
  * files already at target size, repeated runs touch only the new small
  * tail — the incremental-maintenance contract OPTIMIZE needs at scale.
  *
  * A second table, from events: v0 a fragmented ingest, v1 its OPTIMIZE
  * (`src_compaction`), v2 the Morton re-clustering on (user_id, day)
  * (`src_zorder`); `CompactionSpec` and `ZOrderLayoutSpec` pin them. */
object OptimizeCommit {

  val Commits = 6
  val FilesPerCommit = 4

  /** Files of the simulated events ingest: tiny even at sf0.001. */
  val FragmentCount = 48

  /** Floor on the z-clustered file count, so the two-axis clustering is
    * exercised even on a corpus whose bytes would fit one 128 MiB file. */
  val MinZFiles = 16
  val TargetFileBytes = 128L * 1024L * 1024L

  private val cache = new LayoutCache[String](LayoutDirs.deleteParent)
  private val eventsCache = new LayoutCache[String](LayoutDirs.deleteParent)

  private[graft] def ensure(spark: SparkSession, sfDir: String): String =
    cache.get(sfDir, "documents.parquet") {
      val root = Files.createTempDirectory("graft-optimize")
      val table = root.toString + "/table"
      val docs = Tables.documents(spark, sfDir)
      // the fragmented ingest: six commits, several files each — the
      // small-file debris a per-trigger streaming writer accumulates
      (0 until Commits).foreach { i =>
        CommitLogIngest.commitAppend(
          docs.filter(col("doc_id") % Commits === i)
            .repartition(FilesPerCommit),
          table, statsCol = Some("doc_id"))
      }
      val (newV, nIn, nOut) =
        CommitLogIngest.optimize(spark, table, Some("doc_id"))
      require(newV == Commits.toLong && nOut < nIn,
        s"optimize did not compact: version $newV, $nIn -> $nOut files")
      table
    }

  /** The events table: v0 fragmented, v1 compacted, v2 z-clustered. */
  private[graft] def ensureEvents(spark: SparkSession, sfDir: String)
      : String =
    eventsCache.get(sfDir, "events.parquet") {
      val table =
        Files.createTempDirectory("graft-optimize-events").toString + "/table"
      // `day` is materialized so the z-order axis and the window filter
      // are plain int64 columns with stats
      val events = Tables.withDay(Tables.events(spark, sfDir))
      // simulated ingest: round-robin fragments, no clustering
      CommitLogIngest.commitAppend(events.repartition(FragmentCount), table,
        statsCol = Some("event_id"))
      val (v1, _, _) = CommitLogIngest.optimize(spark, table,
        statsCol = Some("event_id"))
      val bytes = CommitLogIngest.liveFiles(spark, table, v1)
        .map(p => Files.size(java.nio.file.Paths.get(p))).sum
      val (v2, _, _) = CommitLogIngest.optimizeZOrder(spark, table,
        Seq("user_id", "day"), statsCol = Some("event_id"),
        maxFileBytes = math.max(1L, math.min(TargetFileBytes,
          bytes / MinZFiles)))
      require(v1 == 1L && v2 == 2L,
        s"events rewrites did not commit: optimize v$v1, zorder v$v2")
      table
    }

  /** Per-event-type census of the compacted version (v1): equality with
    * the oracle over the ORIGINAL events proves the rewrite kept content. */
  def compactedCensus(spark: SparkSession, sfDir: String): DataFrame =
    CommitLogIngest.snapshot(spark, ensureEvents(spark, sfDir), 1L)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        countDistinct(col("user_id")).as("n_users"),
        round(sum(col("value")), 4).as("sum_value"))

  val compactedCensusSql: String =
    """SELECT event_type, COUNT(*) AS n_events,
      |  COUNT(DISTINCT user_id) AS n_users,
      |  ROUND(SUM(value), 4) AS sum_value
      |FROM events GROUP BY event_type""".stripMargin

  /** (user-range × day-range) window census through the z-clustered
    * latest version, anchored at the corpus minima (the stand-in for a
    * dashboard query's literals) so the range predicates prune files. */
  def zorderWindowRead(spark: SparkSession, sfDir: String): DataFrame = {
    val table = ensureEvents(spark, sfDir)
    val anchors = Tables.events(spark, sfDir)
      .agg(min(col("user_id")), min(expr(s"ts div ${Tables.NanosPerDay}")))
      .head()
    val (u0, d0) = (anchors.getLong(0), anchors.getLong(1))
    spark.read.format("graft-commitlog").option("path", table).load()
      .filter(col("user_id").between(u0, u0 + 3) &&
        col("day").between(d0, d0 + 3))
      .agg(count(lit(1)).as("n_events"),
        countDistinct(col("user_id")).as("n_users"),
        round(sum(col("value")), 4).as("sum_value"))
  }

  val zorderWindowReadSql: String =
    """WITH e AS (
      |  SELECT user_id, epoch_ms(ts) // 86400000 AS day, value FROM events
      |), m AS (SELECT MIN(user_id) AS u0, MIN(day) AS d0 FROM e)
      |SELECT COUNT(*) AS n_events,
      |  COUNT(DISTINCT e.user_id) AS n_users,
      |  ROUND(SUM(e.value), 4) AS sum_value
      |FROM e, m
      |WHERE e.user_id BETWEEN m.u0 AND m.u0 + 3
      |  AND e.day BETWEEN m.d0 AND m.d0 + 3""".stripMargin

  /** Census of the LATEST snapshot, read through the log after OPTIMIZE —
    * hash-equality with the oracle over the original documents proves the
    * rewrite changed layout, not content. */
  def optimizedCensus(spark: SparkSession, sfDir: String): DataFrame = {
    val table = ensure(spark, sfDir)
    CommitLogIngest.snapshot(spark, table)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("sum_chars"),
        min(col("doc_id")).as("min_doc"),
        max(col("doc_id")).as("max_doc"))
  }

  val optimizedCensusSql: String =
    """SELECT source, COUNT(*) AS n_docs,
      |  CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
      |  MIN(doc_id) AS min_doc, MAX(doc_id) AS max_doc
      |FROM documents GROUP BY source""".stripMargin

  /** Test hook: drop cached layouts (the shared clear contract). */
  private[graft] def clearCache(): Unit = {
    cache.clear()
    eventsCache.clear()
  }

  def queries: Map[String, Q] = Map(
    "src_optimize_commit" -> Q(optimizedCensusSql)(optimizedCensus),
    "src_compaction" -> Q(compactedCensusSql)(compactedCensus),
    "src_zorder" -> Q(zorderWindowReadSql)(zorderWindowRead))
}
