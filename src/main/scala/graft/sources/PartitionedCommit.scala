package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Q
import graft.model.Tables
import graft.streaming.CommitLogIngest

/** PARTITIONED commit-log tables — the hive-style `col=value` layout
  * INSIDE the table format (VERDICT r10 task 2). The first thing a 100-TB
  * user does is date-partition
  * the fact table: with `.option("partitionCols", "day")` (or
  * `partitionBy("day")` once the layout is declared) the DSv2 writer
  * routes each task's rows into one file per partition VALUE under
  * `day=N/` dirs, add-actions carry the layout in their paths, and a
  * day-bounded read prunes those dirs in the DRIVER — pure path-string
  * work before the stats index is even consulted, before a single byte
  * moves. Partition values STAY in the data files (unlike hive/Delta's
  * stripped layout): the dirs are a pruning accelerator, never where the
  * data lives, so snapshot/changes/time-travel readers compose unchanged
  * and DML needs no path reconstruction.
  *
  * The registry face is deliberately the full COMPOSITION a production
  * table sees: two partitioned DSv2 appends (versions 0-1), a
  * copy-on-write DELETE of one event type (version 2 — its rewrites land
  * back inside their `day=` dirs), then OPTIMIZE (version 3 —
  * partition-LOCAL compaction, smalls never merge across days). The
  * oracle censuses a two-day window through the V2 reader with a pushed
  * day filter; DuckDB replays delete + window from the original parquet.
  * Hash equality proves the partitioned write, the partition-local
  * rewrite, and the dir-pruned read all preserved membership and content.
  * `CommitLogPartitionSpec` pins what the oracle cannot see: only the
  * filtered day's files open, rewrites stay in their dirs, compaction
  * never crosses a partition boundary, and a mismatched layout is
  * refused. `src_events_layout` and `src_events_dpp` read version 1 (the
  * two appends: every event) with static and runtime day pruning
  * (`EventsLayoutSpec`). */
object PartitionedCommit {

  private val cache = new LayoutCache[String](LayoutDirs.deleteParent)

  private[graft] def ensure(spark: SparkSession, sfDir: String): String =
    cache.get(sfDir, "events.parquet") {
      val root = Files.createTempDirectory("graft-partcommit")
      val table = root.toString + "/table"
      val ev = Tables.withDay(Tables.events(spark, sfDir))
      (0 until 2).foreach { i =>
        ev.filter(col("event_id") % 2 === i)
          .write.format("graft-commitlog")
          .option("path", table)
          .option("partitionCols", "day")
          .option("statsCol", "event_id")
          .mode("append").save()
      }
      val (delV, nDel) = CommitLogIngest.deleteWhere(spark, table,
        col("event_type") === "purchase", statsCol = Some("event_id"))
      require(delV == 2L && nDel > 0,
        s"partitioned delete did not commit: v$delV, $nDel files")
      val (optV, nIn, _) = CommitLogIngest.optimize(spark, table,
        statsCol = Some("event_id"))
      require(optV == 3L && nIn > 1,
        s"partitioned optimize did not commit: v$optV, $nIn smalls")
      // a FILE-backed day dimension for the runtime-prune oracle: DPP
      // requires a visible selective predicate on the build side (an
      // in-memory dim's filter constant-folds away), and a real star
      // schema's dim is a table anyway
      ev.select(col("day").as("dday")).distinct()
        .withColumn("nm", concat(lit("d"), col("dday").cast("string")))
        .coalesce(1).write.parquet(root.toString + "/dim")
      table
    }

  /** The corpus' first epoch-day: the stand-in for a dashboard query's
    * "last N days" literal, so the table reads plan with LITERAL days. */
  private[graft] def firstDay(spark: SparkSession, sfDir: String): Long =
    Tables.events(spark, sfDir)
      .agg(min(expr(s"ts div ${Tables.NanosPerDay}"))).head().getLong(0)

  /** The table as of version 1: both appends, before the delete. */
  private def allEvents(spark: SparkSession, sfDir: String): DataFrame =
    spark.read.format("graft-commitlog")
      .option("path", ensure(spark, sfDir))
      .option("versionAsOf", "1").load()

  /** Two-day window census over every event: the literal `day` filter
    * prunes the other days' dirs in the driver. */
  def eventsWindowRead(spark: SparkSession, sfDir: String): DataFrame = {
    val d0 = firstDay(spark, sfDir)
    allEvents(spark, sfDir)
      .filter(col("day").isin(d0, d0 + 1))
      .groupBy(col("day"))
      .agg(count(lit(1)).as("n_events"),
        countDistinct(col("user_id")).as("n_users"),
        round(sum(col("value")), 4).as("sum_value"))
  }

  val eventsWindowReadSql: String =
    """WITH e AS (
      |  SELECT epoch_ms(ts) // 86400000 AS day, user_id, value FROM events
      |), m AS (SELECT MIN(day) AS d0 FROM e)
      |SELECT e.day, COUNT(*) AS n_events,
      |  COUNT(DISTINCT e.user_id) AS n_users,
      |  ROUND(SUM(e.value), 4) AS sum_value
      |FROM e, m WHERE e.day IN (m.d0, m.d0 + 1)
      |GROUP BY e.day""".stripMargin

  /** Star-schema read over every event: the fact joined to a dim whose
    * day set is only known at RUNTIME, so static pruning is impossible
    * and dynamic partition pruning is what keeps the read to the dim's
    * days. The dim comes from the ORIGINAL events file (a stand-in for a
    * calendar dim): distinct days, filtered dim-side only. */
  def eventsDppJoin(spark: SparkSession, sfDir: String): DataFrame = {
    val d0 = firstDay(spark, sfDir)
    val dim = Tables.events(spark, sfDir)
      .select(expr(s"ts div ${Tables.NanosPerDay}").as("day")).distinct()
      .filter(col("day") <= d0 + 1)
    allEvents(spark, sfDir)
      .join(dim, "day")
      .groupBy(col("day"))
      .agg(count(lit(1)).as("n_events"),
        round(sum(col("value")), 4).as("sum_value"))
  }

  val eventsDppJoinSql: String =
    """WITH e AS (
      |  SELECT epoch_ms(ts) // 86400000 AS day, value FROM events
      |), m AS (SELECT MIN(day) AS d0 FROM e),
      |dim AS (SELECT DISTINCT day FROM e, m WHERE day <= m.d0 + 1)
      |SELECT e.day, COUNT(*) AS n_events,
      |  ROUND(SUM(e.value), 4) AS sum_value
      |FROM e JOIN dim USING (day)
      |GROUP BY e.day""".stripMargin

  /** Two-day window census through the V2 reader: the `day` filter pushes
    * into the scan and prunes the other ~28 days' dirs in the driver. */
  def windowCensus(spark: SparkSession, sfDir: String): DataFrame = {
    val table = ensure(spark, sfDir)
    val d0 = firstDay(spark, sfDir)
    spark.read.format("graft-commitlog").option("path", table).load()
      .filter(col("day") >= d0 && col("day") <= d0 + 1)
      .groupBy(col("day").cast("long").as("day"))
      .agg(count(lit(1)).as("n_events"),
        countDistinct(col("user_id")).as("n_users"),
        round(sum(col("value")), 4).as("sum_value"))
  }

  val windowCensusSql: String =
    """WITH e AS (
      |  SELECT epoch_ms(ts) // 86400000 AS day, user_id, value FROM events
      |  WHERE event_type <> 'purchase'
      |), m AS (SELECT MIN(epoch_ms(ts) // 86400000) AS d0 FROM events)
      |SELECT e.day, COUNT(*) AS n_events,
      |  COUNT(DISTINCT e.user_id) AS n_users,
      |  ROUND(SUM(e.value), 4) AS sum_value
      |FROM e, m WHERE e.day IN (m.d0, m.d0 + 1)
      |GROUP BY e.day""".stripMargin

  /** Per-day census answered ENTIRELY from parquet footers (E-172,
    * round-13 verdict task 5): GROUP BY the partition column with no
    * filter plans to the footer-only agg scan — one output row per
    * `day=` dir, zero data pages (AggPushdownSpec gates the zero-page
    * property; this oracle proves the VALUES across the same
    * append+delete+optimize composition the window census reads). */
  def groupedAggCensus(spark: SparkSession, sfDir: String): DataFrame = {
    val table = ensure(spark, sfDir)
    val df = spark.read.format("graft-commitlog").option("path", table)
      .load()
      .groupBy(col("day"))
      .agg(count(lit(1)).as("n_events"),
        min(col("event_id")).as("min_id"),
        max(col("event_id")).as("max_id"))
    // the oracle must grade the PUSHED plan, not a silent fallback: if
    // the footer path ever declines this shape, fail loudly instead of
    // passing on the normal scan's (identical) answer
    require(df.queryExecution.executedPlan.toString
        .contains("AGG-PUSHDOWN"),
      "src_grouped_agg no longer plans to the footer-only agg scan")
    df
  }

  val groupedAggCensusSql: String =
    """SELECT epoch_ms(ts) // 86400000 AS day, COUNT(*) AS n_events,
      |  MIN(event_id) AS min_id, MAX(event_id) AS max_id
      |FROM events WHERE event_type <> 'purchase'
      |GROUP BY 1""".stripMargin

  /** Two-day census again — but the days arrive as RUNTIME join keys
    * (E-179): the dim is filtered by NAME, so static planning cannot
    * know which days survive; Spark's dynamic partition pruning hands
    * the scan the collected keys after the dim broadcasts, and the scan
    * opens only those days' dirs. The in-query gate proves both halves:
    * the executed plan carries the injected `dynamicpruning` subquery,
    * and the read opened a strict subset of the live files (this query
    * must never silently degrade to scan-everything-then-join). DuckDB
    * replays the dim filter as day arithmetic on the original parquet. */
  def runtimePruneCensus(spark: SparkSession, sfDir: String): DataFrame = {
    val table = ensure(spark, sfDir)
    val root = java.nio.file.Paths.get(table).getParent.toString
    val d0 = firstDay(spark, sfDir)
    val dim = spark.read.parquet(root + "/dim")
      .filter(col("nm").isin(s"d${d0 + 1}", s"d${d0 + 3}"))
    def q: DataFrame = spark.read.format("graft-commitlog")
      .option("path", table).load()
      .join(dim, col("day") === col("dday"))
      .groupBy(col("day").cast("long").as("day"))
      .agg(count(lit(1)).as("n_events"),
        countDistinct(col("user_id")).as("n_users"),
        round(sum(col("value")), 4).as("sum_value"))
    CommitLogReadTracker.enable()
    val probe = q
    val rows = probe.collect()
    val opened = CommitLogReadTracker.drain().distinct
      .filter(_.startsWith(table)) // the dim read is not under the gate
    CommitLogReadTracker.disable()
    val live = CommitLogIngest.liveState(spark, table,
      CommitLogIngest.latestVersion(table))._1
    val planStr = probe.queryExecution.executedPlan.toString
    require(planStr.contains("dynamicpruning"),
      "src_runtime_prune no longer injects the runtime filter")
    require(opened.nonEmpty && opened.size < live.size &&
        opened.forall(f => f.contains(s"day=${d0 + 1}") ||
          f.contains(s"day=${d0 + 3}")),
      s"src_runtime_prune no longer prunes at runtime: opened " +
        s"${opened.size} of ${live.size} live files: $opened")
    // the GATED probe execution is the one graded: hand its rows back
    // as a local frame instead of a fresh plan the caller would execute
    // again — the round-14 record ran the full star join twice per
    // oracle pass (round-14 ADVICE). Every invocation still computes
    // from the parquet inputs (the probe above runs unconditionally).
    spark.createDataFrame(
      java.util.Arrays.asList(rows: _*), probe.schema)
  }

  val runtimePruneCensusSql: String =
    """WITH e AS (
      |  SELECT epoch_ms(ts) // 86400000 AS day, user_id, value FROM events
      |  WHERE event_type <> 'purchase'
      |), m AS (SELECT MIN(epoch_ms(ts) // 86400000) AS d0 FROM events)
      |SELECT e.day, COUNT(*) AS n_events,
      |  COUNT(DISTINCT e.user_id) AS n_users,
      |  ROUND(SUM(e.value), 4) AS sum_value
      |FROM e, m WHERE e.day IN (m.d0 + 1, m.d0 + 3)
      |GROUP BY e.day""".stripMargin

  /** Test hook: drop cached layouts (the shared clear contract). */
  private[graft] def clearCache(): Unit = cache.clear()

  def queries: Map[String, Q] = Map(
    "src_events_layout" -> Q(eventsWindowReadSql)(eventsWindowRead),
    "src_events_dpp" -> Q(eventsDppJoinSql)(eventsDppJoin),
    "src_partitioned_commit" -> Q(windowCensusSql)(windowCensus),
    "src_grouped_agg" -> Q(groupedAggCensusSql)(groupedAggCensus),
    "src_runtime_prune" -> Q(runtimePruneCensusSql)(runtimePruneCensus))
}
