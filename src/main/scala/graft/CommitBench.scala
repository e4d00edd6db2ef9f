package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.streaming.CommitLogIngest

/** Sustained commit-log ingest under load — the E-124 write path driven
  * wave-by-wave, with the READER-cost evidence the checkpoint design
  * claims: snapshot-read latency must stay flat as commits accumulate,
  * because a read replays checkpoint + partition-pruned tail (O(K)) and
  * never the whole log (O(commits)). Reported:
  *
  *  - `commits_per_s` / `rows_per_s`: wave-in → version-committed, the
  *    full per-batch cost (data-file write + log commit + periodic
  *    checkpoint);
  *  - `read_s_early` vs `read_s_late`: latest-snapshot read latency at
  *    [[ProbeAt]] commits vs at the end — the flatness claim
  *    (min-of-two passes each, the suite's measurement discipline);
  *  - `read_s_full_replay`: the same end-state read forced through a
  *    full log replay (no checkpoint) — what every read would cost
  *    WITHOUT checkpointing, the contrast that justifies it;
  *  - `parity`: the bench refuses to report rates for a wrong table —
  *    the final snapshot is compared against everything sent (count and
  *    id-sum), and a mismatch exits nonzero.
  *
  * Usage: `sbt "runMain graft.CommitBench [commits] [rowsPerCommit]"` —
  * prints one JSON line on stdout (recorded in BENCH_STREAM.json /
  * BENCH_NOTES.md).
  */
object CommitBench {

  /** Read-latency probe point, before the first checkpoint lands. */
  val ProbeAt = 5

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(s"graft-commitbench-$prefix")
      .toString

  private def minOf2(f: () => Unit): Double = {
    def pass(): Double = {
      val t0 = System.nanoTime(); f(); (System.nanoTime() - t0) / 1e9
    }
    math.min(pass(), pass())
  }

  def main(args: Array[String]): Unit = {
    val commits = args.headOption.map(_.toInt).getOrElse(60)
    val perCommit = args.lift(1).map(_.toInt).getOrElse(5000)
    require(commits > CommitLogIngest.CheckpointEvery + ProbeAt,
      "too few commits to exercise a checkpoint")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.streaming.checkpoint.fileChecksum.enabled", "false")
      .withExtensions(new graft.plans.GraftExtensions)
      .getOrCreate()
    graft.model.Tables.bootstrap(spark)
    spark.sparkContext.setLogLevel("ERROR")
    implicit val sc = spark.sqlContext
    import spark.implicits._

    def wave(w: Int, n: Int): Seq[(Long, String)] =
      (0 until n).map(i => (w.toLong * n + i, s"payload-$w-$i"))

    // no trigger interval, so the timed window measures the commit path,
    // not a trigger cadence
    def run(table: String, ckpt: String, ws: Int, n: Int)
        : (Double, Double) = {
      val stream = MemoryStream[(Long, String)]
      val q = stream.toDF().toDF("id", "payload")
        .writeStream.format("graft-commitlog").option("path", table)
        .option("checkpointLocation", ckpt)
        .start()
      try {
        var early = -1.0
        var probeNs = 0L
        val t0 = System.nanoTime()
        (0 until ws).foreach { w =>
          stream.addData(wave(w, n))
          q.processAllAvailable()
          if (w + 1 == ProbeAt) {
            val tp = System.nanoTime() // probe excluded from the timed wall
            early = minOf2(() => {
              CommitLogIngest.snapshot(spark, table).count(); ()
            })
            probeNs = System.nanoTime() - tp
          }
        }
        ((System.nanoTime() - t0 - probeNs) / 1e9, early)
      } finally q.stop()
    }

    // untimed warmup on its own table (JIT + codegen + committer init)
    run(tmp("warm") + "/table", tmp("warmck"),
      ws = CommitLogIngest.CheckpointEvery.toInt + ProbeAt + 1, n = 500)

    val table = tmp("timed") + "/table"
    val (wallS, earlyS) = run(table, tmp("timedck"), commits, perCommit)

    val lateS = minOf2(() => {
      CommitLogIngest.snapshot(spark, table).count(); ()
    })
    val latest = commits.toLong - 1
    // the claim under test: LOG RESOLUTION is O(checkpoint + tail), so it
    // stays flat as commits accumulate — vs the full-replay contrast that
    // scans every version dir (what every read would cost without the
    // checkpoint). End-to-end reads also carry the data scan, which
    // legitimately grows with ingested files until compaction.
    val resolveS = minOf2(() => {
      CommitLogIngest.liveFiles(spark, table, latest); ()
    })
    val resolveFullS = minOf2(() => {
      spark.read.parquet(s"$table/log")
        .filter(col("version") <= latest)
        .groupBy(col("path"))
        .agg(max_by(col("action"), col("version")).as("last"))
        .filter(col("last") === "add")
        .select("path").collect()
      ()
    })

    // WRITE-PATH contrast: the DSv2 writer (task-direct files through
    // Spark's parquet OutputWriter) vs commitAppend (the same encoder
    // behind Spark's file-source write and its output committer) over
    // identical batches, so the cost of driving the table through
    // df.write instead of the programmatic API is a recorded number, not
    // a guess. Min-of-two waves each, warmed.
    val wBatches = 8
    def df(w: Int) = wave(w, perCommit).toDF("id", "payload")
    def timeAppends(commit: (Int) => Unit): Double = {
      commit(100) // warm (JIT + writer init) on the same table
      minOf2(() => (0 until wBatches).foreach(commit))
    }
    val dsvTable = tmp("dsv") + "/table"
    val dsv2S = timeAppends(w =>
      df(w).write.format("graft-commitlog").option("path", dsvTable)
        .mode("append").save())
    val natTable = tmp("nat") + "/table"
    val nativeS = timeAppends(w =>
      { CommitLogIngest.commitAppend(df(w), natTable); () })

    val total = commits.toLong * perCommit
    val snap = CommitLogIngest.snapshot(spark, table)
      .agg(count(lit(1)), sum(col("id"))).head()
    val parity = snap.getLong(0) == total &&
      snap.getLong(1) == total * (total - 1) / 2
    println(
      f"""{"metric":"commit_log_ingest","commits":$commits,""" +
        f""""rows":$total,"wall_s":$wallS%.3f,""" +
        f""""commits_per_s":${commits / wallS}%.2f,""" +
        f""""rows_per_s":${total / wallS}%.1f,""" +
        f""""read_s_early":$earlyS%.3f,"read_s_late":$lateS%.3f,""" +
        f""""resolve_s":$resolveS%.3f,""" +
        f""""resolve_s_full_replay":$resolveFullS%.3f,""" +
        f""""dsv2_write_rows_per_s":${wBatches.toLong * perCommit / dsv2S}%.1f,""" +
        f""""native_write_rows_per_s":${wBatches.toLong * perCommit / nativeS}%.1f,""" +
        s""""ckpt_version":${CommitLogIngest.lastCheckpoint(table)},""" +
        s""""parity":$parity}""")
    spark.stop()
    if (!parity) sys.exit(1)
  }
}
