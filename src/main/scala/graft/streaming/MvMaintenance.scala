package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.sources.{CdfRollup, LayoutDirs}

/** CONTINUOUS materialized-view maintenance: the V2 change-feed STREAM
  * of a commit-log table folded into a commit-log MV table, exactly
  * once. This is `CdfRollup`'s production loop: the fold lands
  * as ONE overwrite commit whose `("txn", "qid:batchId")` marker rides
  * the SAME atomic version claim as the data, so a crash-replayed epoch
  * is detected by [[CommitLogIngest.lastTxnEpoch]] and skipped — there
  * is no window where state moved but the marker didn't.
  *
  * Per trigger: O(change rows) + O(groups) — the MV is group-sized, the
  * feed delivers exactly the versions not yet processed (versions ARE
  * offsets), and a DML commit without stored change data fails the
  * stream loudly (enable CDF on the source) rather than silently
  * skipping a mutation. Works through EVERY mutation kind the feed can
  * carry: append, CoW delete/update, merge, deletion-vector delete. */
object MvMaintenance {

  /** Fold one change-feed micro-batch into the MV table, exactly once
    * per (queryId, batchId). Empty batches commit nothing (an idle
    * trigger must not churn MV versions — re-delivery of an empty batch
    * is naturally idempotent). */
  private[graft] def foldOnce(batch: DataFrame, mvDir: String,
      qid: String, batchId: Long): Unit = {
    val spark = batch.sparkSession
    if (CommitLogIngest.lastTxnEpoch(spark, mvDir, qid) >= batchId) return
    if (batch.isEmpty) return
    val current =
      if (CommitLogIngest.latestVersion(mvDir) >= 0)
        CommitLogIngest.snapshot(spark, mvDir)
      else // first epoch: an empty view with the fold's schema
        CdfRollup.full(batch.filter(org.apache.spark.sql.functions
          .lit(false)))
    val next = CdfRollup.fold(current, CdfRollup.delta(batch))
    val out = s"$mvDir/data/mv-" +
      java.util.UUID.randomUUID().toString.take(12)
    // group-sized — one file keeps the MV read O(1)
    next.coalesce(1).write.mode("overwrite").parquet(out)
    CommitLogIngest.commitOverwrite(spark, mvDir,
      LayoutDirs.dataFiles(out), statsCol = None, statsDir = None,
      schemaOf = Some(next.schema), txn = Some(s"$qid:$batchId"))
  }

  /** Start the loop. `qid` namespaces the txn markers (one MV table can
    * in principle be fed by several streams); `triggerSec <= 0` drops
    * the processing-time trigger (micro-batches fire as data lands —
    * the test/bench mode). */
  def start(spark: SparkSession, srcTable: String, mvDir: String,
      checkpointDir: String, qid: String = "mv",
      triggerSec: Int = 1): StreamingQuery = {
    val w = spark.readStream.format("graft-commitlog")
      .option("path", srcTable)
      .option("readChangeFeed", "true")
      .load()
      .writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        foldOnce(batch, mvDir, qid, batchId)
      }
    (if (triggerSec > 0)
       w.trigger(Trigger.ProcessingTime(s"$triggerSec seconds"))
     else w).start()
  }
}
