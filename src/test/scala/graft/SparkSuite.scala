package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local Spark session for specs. */
trait SparkSuite extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSuite.session

  val sf0001 = "/root/testdata/sf0.001"

  /** Flatten an executed plan through AQE wrappers (AdaptiveSparkPlanExec
    * and QueryStageExec are LEAF nodes to `collect` — without unwrapping,
    * plan gates silently assert nothing once a query has an exchange).
    * Call AFTER an action so `executedPlan` is final. */
  protected def unwrapPlan(p: org.apache.spark.sql.execution.SparkPlan)
      : Seq[org.apache.spark.sql.execution.SparkPlan] =
    p.collectWithSubqueries {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        unwrapPlan(a.executedPlan)
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
        unwrapPlan(q.plan)
      case other => Seq(other)
    }.flatten

  /** The `table` files the commit-log V2 scan opened while `action` ran. */
  protected def filesOpened(table: String)(action: => Any): Seq[String] = {
    graft.sources.CommitLogReadTracker.enable()
    try action
    finally graft.sources.CommitLogReadTracker.disable()
    graft.sources.CommitLogReadTracker.drain().distinct
      .filter(_.startsWith(table))
  }

  /** Whether every V2 scan `df` plans decodes in columnar batches (Spark
    * plans row and columnar scans differently, so this is the plan's own
    * answer, not reader state). */
  protected def scansColumnar(df: org.apache.spark.sql.DataFrame): Boolean =
    df.queryExecution.sparkPlan.collect {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
        b.supportsColumnar
    }.forall(identity)
}

object SparkSuite {
  // one session across all suites in the forked test JVM
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", 4)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft-warehouse").toString)
      // The 4.1 checkpoint checksum manager deadlocks under this suite's
      // workload (dozens of short-lived streaming queries in one JVM):
      // observed all executor slots parked in
      // ChecksumCancellableFSDataOutputStream.close awaiting futures while
      // every ChecksumCheckpointFileManager pool thread sat idle — the
      // state-store commit then never finishes and the suite hangs. The
      // feature only guards against checkpoint file corruption, worthless
      // for throwaway tmp-dir checkpoints; production sessions keep the
      // default.
      .config("spark.sql.streaming.checkpoint.fileChecksum.enabled", "false")
      .withExtensions(new graft.plans.GraftExtensions)
      .getOrCreate()
    graft.model.Tables.bootstrap(s)
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
