package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.streaming.CommitLogIngest

/** The V2-connector read cost, measured: the same bytes full-scanned
  * through `graft-commitlog` vs a native parquet scan of the same files
  * (`CommitLogIngest.snapshot`), wide (every column materialized) and
  * narrow (2-column projection). Both decode through Spark's parquet
  * reader, so the ratio is what the connector's planning and per-file
  * reader setup cost on top of it.
  *
  * Method: lineitem at `SPARK_GRAFT_SF_DIR` is appended into a commit-log
  * table (4 commits → multiple files), then each leg aggregates over ALL
  * rows so the decode cost — not the aggregation — dominates; min-of-two
  * passes (the suite's measurement discipline). Parity: each pair of legs
  * must agree on the aggregate before the ratio is reported.
  *
  * Usage: `SPARK_GRAFT_SF_DIR=... sbt "runMain graft.ScanBench"` — one
  * JSON line on stdout (recorded in BENCH_STREAM.json / BENCH_NOTES.md).
  */
object ScanBench {

  private def minOf2[T](f: () => T): (Double, T) = {
    def pass(): (Double, T) = {
      val t0 = System.nanoTime()
      val r = f()
      ((System.nanoTime() - t0) / 1e9, r)
    }
    val a = pass(); val b = pass()
    if (a._1 <= b._1) a else b
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR",
      "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .withExtensions(new graft.plans.GraftExtensions)
      .getOrCreate()
    graft.model.Tables.bootstrap(spark)
    spark.sparkContext.setLogLevel("ERROR")

    val root = java.nio.file.Files.createTempDirectory("graft-scanbench")
    val table = s"$root/table"
    val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
    // 8 files per commit → 32 live files: a realistic multi-file layout,
    // so both scans parallelize across the 32 threads and the ratio
    // measures DECODE, not partition-count accidents
    (0 until 4).foreach { i =>
      // statsCol: each commit takes l_orderkey%4==i, so the four file
      // sets' key RANGES nearly coincide while their key SETS are
      // disjoint — min/max stats prune nothing and the bloom leg below
      // measures the sketch alone (scan legs are unaffected: the index
      // is a side table)
      CommitLogIngest.commitAppend(
        li.filter(col("l_orderkey") % 4 === i).repartition(8), table,
        statsCol = Some("l_orderkey"))
    }
    val rows = CommitLogIngest.snapshot(spark, table).count()

    def viaConnector(): DataFrame =
      spark.read.format("graft-commitlog").option("path", table).load()
    def viaNative(): DataFrame = CommitLogIngest.snapshot(spark, table)

    // WIDE: every column decoded and aggregated
    def wide(df: DataFrame): Seq[Any] =
      df.agg(sum("l_orderkey"), sum("l_partkey"), sum("l_suppkey"),
        sum("l_linenumber"), sum("l_quantity"), sum("l_extendedprice"),
        sum("l_discount"), sum("l_tax"),
        count(when(col("l_returnflag") === "R", 1)),
        count(when(col("l_linestatus") === "F", 1)),
        max("l_shipdate")).head().toSeq
    // NARROW: 2-column projection (column pruning must reach the reader)
    def narrow(df: DataFrame): Seq[Any] =
      df.agg(sum("l_extendedprice"), sum("l_quantity")).head().toSeq

    // warm both paths (JIT + codegen + footer caches)
    wide(viaConnector()); wide(viaNative())
    narrow(viaConnector()); narrow(viaNative())

    val (wideConnS, wideConnR) = minOf2(() => wide(viaConnector()))
    val (wideNatS, wideNatR) = minOf2(() => wide(viaNative()))
    val (narrowConnS, narrowConnR) = minOf2(() => narrow(viaConnector()))
    val (narrowNatS, narrowNatR) = minOf2(() => narrow(viaNative()))

    // ARRAY leg (round-12 verdict task 8): an embeddings-style
    // array<float> column through the vectorized array decode vs the
    // native scan — the vector-corpus case the flagship ANN surface reads
    val embT = s"$root/emb"
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    (0 until 2).foreach { i =>
      CommitLogIngest.commitAppend(
        emb.filter(col("vec_id") % 2 === i).repartition(8), embT)
    }
    def viaConnE(): DataFrame =
      spark.read.format("graft-commitlog").option("path", embT).load()
    def viaNatE(): DataFrame = CommitLogIngest.snapshot(spark, embT)
    def arrAgg(df: DataFrame): Seq[Any] =
      df.agg(sum(size(col("embedding"))),
        count(when(element_at(col("embedding"), 1) > 0f, 1))).head().toSeq
    arrAgg(viaConnE()); arrAgg(viaNatE())
    val (arrConnS, arrConnR) = minOf2(() => arrAgg(viaConnE()))
    val (arrNatS, arrNatR) = minOf2(() => arrAgg(viaNatE()))

    // COUNT leg (round-12 verdict task 7): the footer-only aggregate
    // pushdown vs the native scan's count — the connector answers from
    // metadata, so this leg should be near-constant regardless of SF
    def cnt(df: DataFrame): Long = df.agg(count(lit(1))).head().getLong(0)
    cnt(viaConnector()); cnt(viaNative())
    val (cntConnS, cntConnR) = minOf2(() => cnt(viaConnector()))
    val (cntNatS, cntNatR) = minOf2(() => cnt(viaNative()))

    // BLOOM leg (E-177): point probe on the interleaved-by-construction
    // layout — every file's [min,max] covers every key, so the per-file
    // sketch is the only working prune; vs the native scan, which opens
    // all files and filters rows
    val probeKey = li.agg(max(col("l_orderkey"))).head().getLong(0)
    def bloomProbe(): Long =
      viaConnector().filter(col("l_orderkey") === probeKey).count()
    def nativeProbe(): Long =
      viaNative().filter(col("l_orderkey") === probeKey).count()
    bloomProbe(); nativeProbe()
    graft.sources.CommitLogReadTracker.enable()
    bloomProbe()
    val bloomOpened =
      graft.sources.CommitLogReadTracker.drain().distinct.size
    graft.sources.CommitLogReadTracker.disable()
    val liveFiles = graft.sources.LayoutDirs
      .dataFiles(s"$table/data").size
    val (bloomS, bloomR) = minOf2(() => bloomProbe())
    val (bloomNatS, bloomNatR) = minOf2(() => nativeProbe())

    // RUNTIME-PRUNE leg (E-179): the two-day star join over the
    // day-partitioned events table, with dynamic partition pruning ON
    // (runtime keys prune the fact's day dirs) vs OFF (scan every day,
    // join, discard) — same plan shape otherwise, same result
    val evTable = graft.sources.PartitionedCommit.ensure(spark, sfDir)
    val evRoot = java.nio.file.Paths.get(evTable).getParent.toString
    val evD0 = graft.sources.PartitionedCommit.firstDay(spark, sfDir)
    def dppJoin(): Long = {
      val dim = spark.read.parquet(evRoot + "/dim")
        .filter(col("nm").isin(s"d${evD0 + 1}", s"d${evD0 + 3}"))
      spark.read.format("graft-commitlog").option("path", evTable).load()
        .join(dim, col("day") === col("dday"))
        .agg(count(lit(1))).head().getLong(0)
    }
    val dppKey = "spark.sql.optimizer.dynamicPartitionPruning.enabled"
    def withDpp[T](on: Boolean)(f: () => T): T = {
      val old = spark.conf.get(dppKey)
      spark.conf.set(dppKey, on.toString)
      try f() finally spark.conf.set(dppKey, old)
    }
    withDpp(true)(dppJoin _); withDpp(false)(dppJoin _) // warm both
    graft.sources.CommitLogReadTracker.enable()
    withDpp(true)(dppJoin _)
    val dppFiles = graft.sources.CommitLogReadTracker.drain()
      .distinct.count(_.startsWith(evTable))
    graft.sources.CommitLogReadTracker.enable()
    withDpp(false)(dppJoin _)
    val noDppFiles = graft.sources.CommitLogReadTracker.drain()
      .distinct.count(_.startsWith(evTable))
    graft.sources.CommitLogReadTracker.disable()
    val (dppOnS, dppOnR) = minOf2(() => withDpp(true)(dppJoin _))
    val (dppOffS, dppOffR) = minOf2(() => withDpp(false)(dppJoin _))

    // doubles sum in partition order, which differs between the two scans
    // (per-file partitions vs size-split) — exact for integrals/strings,
    // relative tolerance for floating sums
    def agree(a: Seq[Any], b: Seq[Any]): Boolean =
      a.zip(b).forall {
        case (x: java.lang.Double, y: java.lang.Double) =>
          math.abs(x - y) <= 1e-9 * math.max(math.abs(x), math.abs(y))
        case (x, y) => x == y
      }
    val parity = agree(wideConnR, wideNatR) &&
      agree(narrowConnR, narrowNatR) && cntConnR == cntNatR &&
      cntConnR == rows && agree(arrConnR, arrNatR) &&
      bloomR == bloomNatR && bloomR > 0 &&
      dppOnR == dppOffR && dppOnR > 0
    println(
      f"""{"metric":"v2_scan_decode_tax","sf_dir":"$sfDir","rows":$rows,""" +
        f""""wide_connector_s":$wideConnS%.3f,"wide_native_s":$wideNatS%.3f,""" +
        f""""wide_tax":${wideConnS / wideNatS}%.2f,""" +
        f""""narrow_connector_s":$narrowConnS%.3f,""" +
        f""""narrow_native_s":$narrowNatS%.3f,""" +
        f""""narrow_tax":${narrowConnS / narrowNatS}%.2f,""" +
        f""""count_pushdown_s":$cntConnS%.3f,"count_native_s":$cntNatS%.3f,""" +
        f""""array_connector_s":$arrConnS%.3f,"array_native_s":$arrNatS%.3f,""" +
        f""""array_tax":${arrConnS / arrNatS}%.2f,""" +
        f""""bloom_probe_s":$bloomS%.3f,"bloom_native_s":$bloomNatS%.3f,""" +
        s""""bloom_files_opened":$bloomOpened,"bloom_files_live":$liveFiles,""" +
        f""""dpp_join_s":$dppOnS%.3f,"no_dpp_join_s":$dppOffS%.3f,""" +
        s""""dpp_files_opened":$dppFiles,"no_dpp_files_opened":$noDppFiles,""" +
        s""""parity":$parity}""")
    graft.sources.LayoutDirs.deleteQuiet(root.toString)
    spark.stop()
    if (!parity) sys.exit(1)
  }
}
