package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import graft.Q
import graft.Checkpoints.LineageOps
import graft.model.Tables
import graft.streaming.CommitLogIngest

/** Incrementally-maintained rollup — materialized-view maintenance as a
  * storage operator: aggregate ONLY the delta, then merge it into the
  * materialized (day, event_type) rollup by replacing ONLY the day
  * partitions it touches — O(delta + touched partials) per batch,
  * independent of the fact table's size.
  *
  * The rollup is a commit-log table partitioned by `day` holding
  * sum/count PARTIALS, so merge = re-aggregate; ratios are derived at
  * READ time. One merge is one commit: it reads the touched days'
  * partials through the log (a literal `day IN (...)` filter prunes to
  * their dirs), folds in the delta, and commits add(new day files) +
  * remove(the touched days' live files) at exactly the version after the
  * one it read (on a conflict it re-reads). A streamed merge also records
  * ("txn", "rollup:batchId") in that version, so a replayed batch is
  * recognised from the log, with no crash window between the data and
  * the replay guard.
  *
  * `src_incr_rollup` is the correctness face: the base build commits
  * every day EXCEPT the corpus' last, the last day merges as the delta,
  * and the rollup read back is value-equal to the DuckDB oracle's full
  * recompute over the ORIGINAL events. `IncrementalRollupSpec` pins the
  * O(delta) mechanics and `RollupMaintenanceSpec` the streaming loop. */
object IncrementalRollup {

  /** The txn namespace of the streaming loop's commits. */
  private val Qid = "rollup"

  private val cache = new LayoutCache[String](LayoutDirs.deleteParent)

  /** Per-(day, event_type) partials of an event slice — the one shape
    * both the base build and every delta batch aggregate to. */
  private def partials(events: DataFrame): DataFrame =
    Tables.withDay(events)
      .groupBy(col("day"), col("event_type"))
      .agg(count(lit(1)).as("n_events"), sum(col("value")).as("sum_value"))

  /** Full (non-incremental) rollup build of `events` as one partitioned
    * append; an empty slice commits nothing. */
  private[graft] def buildBase(events: DataFrame, table: String): Unit =
    partials(events).write.format("graft-commitlog")
      .option("path", table).option("partitionCols", "day")
      .mode("append").save()

  /** Merge one delta batch of raw events into the rollup, replacing only
    * the day partitions it touches. With `batchId`, the commit carries
    * the loop's txn marker and a batch the log already records is a
    * no-op. Returns the committed version, or -1 when nothing committed
    * (an empty delta or a replayed batch). */
  private[graft] def mergeDelta(spark: SparkSession, table: String,
      delta: DataFrame, batchId: Option[Long] = None): Long = {
    val txn = batchId.map(b => s"$Qid:$b")
    val deltaAgg = partials(delta).truncateLineage()
    // the touched-day set is driver-side by design: a maintenance batch
    // spans hours-to-days, so this is a bounded handful of literals —
    // and literals are what let the read below prune at PLAN time
    val touched = deltaAgg.select(col("day")).distinct()
      .collect().map(_.getLong(0)).toSeq.sorted
    if (touched.isEmpty) return -1L
    while (true) {
      val latest = CommitLogIngest.latestVersion(table)
      if (batchId.exists(b =>
          CommitLogIngest.lastTxnEpoch(spark, table, Qid) >= b))
        return -1L
      // bootstrap: a maintenance stream's first batch may arrive before
      // any base build (or after an all-one-day base that committed
      // nothing) — there are no partials to fold in yet
      val existing =
        if (latest < 0) deltaAgg.limit(0)
        else spark.read.format("graft-commitlog").option("path", table)
          .option("versionAsOf", latest.toString).load()
          .filter(col("day").isin(touched: _*))
          .select("day", "event_type", "n_events", "sum_value")
      val segs = touched.map(d => s"day=$d").toSet
      val removes =
        if (latest < 0) Seq.empty[String]
        else CommitLogIngest.liveFiles(spark, table, latest)
          .filter(p => segs.contains(PartitionPaths.segmentsOf(p)))
      val merged = existing.unionByName(deltaAgg)
        .groupBy(col("day"), col("event_type"))
        .agg(sum(col("n_events")).as("n_events"),
          sum(col("sum_value")).as("sum_value"))
      val out = s"$table/data/m-" +
        java.util.UUID.randomUUID().toString.take(12)
      CommitLogIngest.writePartitionLocal(merged, Seq("day"), out, table)
      CommitLogIngest.recordPartitionCols(table, Seq("day"))
      if (CommitLogIngest.tryCommitAt(spark, table, latest,
          LayoutDirs.dataFiles(out), removes, statsCol = None,
          statsDir = None,
          // only a bootstrap declares the schema: later merges keep it
          schemaOf = Some(merged.schema).filter(_ => latest < 0),
          txn = txn, op = CommitLogIngest.overwriteOp(removes)))
        return latest + 1
      LayoutDirs.deleteQuiet(out) // lost the claim: re-read and redo
    }
    -1L // unreachable
  }

  /** Build base (all days but the last) + merge the last day as the
    * delta, once per source fingerprint; returns the rollup table. */
  private[graft] def ensure(spark: SparkSession, sfDir: String): String =
    cache.get(sfDir, "events.parquet") {
      val table =
        Files.createTempDirectory("graft-incr-rollup").toString + "/table"
      val events = Tables.events(spark, sfDir)
      val dayCol = expr(s"ts div ${Tables.NanosPerDay}")
      val dmax = events.agg(max(dayCol)).head().getLong(0)
      buildBase(events.filter(dayCol < dmax), table)
      mergeDelta(spark, table, events.filter(dayCol === dmax))
      table
    }

  /** Read the maintained rollup back in full — every (day, event_type)
    * partial, ratios derived from partials at read time. Value-equal to
    * a full recompute iff base+merge lost nothing. */
  def rollupRead(spark: SparkSession, sfDir: String): DataFrame =
    CommitLogIngest.snapshot(spark, ensure(spark, sfDir))
      .select(col("day"), col("event_type"), col("n_events"),
        round(col("sum_value"), 4).as("sum_value"),
        round(col("sum_value") / col("n_events"), 6).as("avg_value"))

  val rollupReadSql: String =
    """SELECT epoch_ms(ts) // 86400000 AS day, event_type,
      |  COUNT(*) AS n_events,
      |  ROUND(SUM(value), 4) AS sum_value,
      |  ROUND(SUM(value) / COUNT(*), 6) AS avg_value
      |FROM events GROUP BY 1, 2""".stripMargin

  /** Keep the rollup live against a STREAM of raw events (canonical
    * nanos-LONG `ts`, `event_type`, `value` — the `Tables.events` shape):
    * each micro-batch is one [[mergeDelta]] commit, O(batch) work per
    * trigger. `foreachBatch` is at-least-once — after a failure the SAME
    * batchId re-runs — and the txn marker riding each merge's version
    * claim makes that replay a no-op. `triggerSec <= 0` drops the
    * processing-time trigger (micro-batches fire as data lands). */
  def start(events: DataFrame, table: String, checkpointDir: String,
      triggerSec: Int = 1): StreamingQuery = {
    val w = events.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        mergeDelta(batch.sparkSession, table, batch, Some(batchId)); ()
      }
    (if (triggerSec > 0)
       w.trigger(Trigger.ProcessingTime(s"$triggerSec seconds"))
     else w).start()
  }

  /** Test hook: drop cached layouts (the shared clear contract). */
  private[graft] def clearCache(): Unit = cache.clear()

  def queries: Map[String, Q] = Map(
    "src_incr_rollup" -> Q(rollupReadSql)(rollupRead))
}
