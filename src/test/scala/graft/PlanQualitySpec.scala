package graft

import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec

/** Automated plan-quality gate over EVERY registered query: no accidental
  * cartesian products, and column pruning must reach every scan of a wide
  * table (a scan reading all of lineitem's 16 columns for a 2-column
  * projection would be a silent 100 TB regression). Runs on the physical
  * plan at sf0.001 — plan shape, not data.
  *
  * AdaptiveSparkPlanExec is a LEAF node, so a naive `plan.collect` finds no
  * scans under AQE (i.e. for any query with an exchange) — the gate must
  * unwrap it (and subqueries) or it silently asserts nothing. */
class PlanQualitySpec extends SparkSuite {

  private val wideTables = Map(
    "lineitem" -> 16, "orders" -> 6, "events" -> 6, "customer" -> 5,
    "documents" -> 5)

  /** All file scans, recursing through AQE wrappers, subqueries, and
    * cached (InMemoryRelation) plans. */
  private def allScans(plan: SparkPlan): Seq[FileSourceScanExec] =
    plan.collectWithSubqueries {
      case a: AdaptiveSparkPlanExec => allScans(a.inputPlan)
      case i: org.apache.spark.sql.execution.columnar.InMemoryTableScanExec =>
        allScans(i.relation.cachedPlan)
      case s: FileSourceScanExec => Seq(s)
    }.flatten

  private def singlePartitionExchanges(plan: SparkPlan): Seq[SparkPlan] =
    plan.collectWithSubqueries {
      case a: AdaptiveSparkPlanExec => singlePartitionExchanges(a.inputPlan)
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
          if e.outputPartitioning.numPartitions == 1 => Seq(e)
    }.flatten

  private def aggregatesOrLimits(plan: SparkPlan): Boolean =
    plan.collectWithSubqueries {
      case p if p.nodeName.contains("Aggregate") ||
        p.nodeName.contains("Limit") => p
    }.nonEmpty

  /** Window operators with NO partition keys — a single-partition sort of
    * their whole input (the classic percent_rank-over-everything
    * scale-killer), recursing through AQE wrappers. */
  private def globalWindows(plan: SparkPlan): Seq[SparkPlan] =
    plan.collectWithSubqueries {
      case a: AdaptiveSparkPlanExec => globalWindows(a.inputPlan)
      case w: org.apache.spark.sql.execution.window.WindowExec
          if w.partitionSpec.isEmpty => Seq(w)
    }.flatten

  // ---- broadcast-hint allowlist gate ----------------------------------------
  // A forced `broadcast()` on an SF-growing table is the one hint that turns
  // into an executor OOM at 100 TB (round 6's q5 regression: a forced
  // customer broadcast that also forbade AQE from picking the shuffle join
  // scale needs). Plan-level checks can't see this at sf0.001 — the small
  // side legitimately broadcasts there — so gate the SOURCE: every
  // `broadcast(<arg>)` in main code must name an expression from this
  // allowlist of provably bounded frames (fixed-size dims, 1-row/K-row
  // aggregates, literal band tables, limit-k sets, trained models). Adding a
  // new broadcast hint means adding its (file, head-identifier) here with
  // the same justification discipline.
  test("broadcast() hints only on provably bounded frames") {
    val bounded: Map[String, Set[String]] = Map(
      "TemporalJoins.scala" -> Set("dim"), // 7-band literal, exploded ≤ O(bands)
      "Analytics.scala" -> Set(
        "n", "r", // nation 25 / region 5 rows — fixed regardless of SF
        "stats", "offsets", "converted", // 1-row / K-bucket aggregates
        "dims", // rollup dimension literal fan-out
        "hot", "custHot", // limit(16) hot keys + ≤16-row dim slice
        "cand", // ≤fine(1024)-row slice of the bucket-count aggregate
        "edges"), // 1-row array of the ≤7 histogram boundary values
      "Dedup.scala" -> Set("thr", // 4-threshold literal
        "vtab"), // verify-join side (doc, n, stop-shingles), gated on a
                 // MEASURED byte budget (VerifyBroadcastMaxBytes) with
                 // shuffle fallback — the broadcast() call is unreachable
                 // above 512 MiB estimated, and the round-15 rare/stop
                 // split shrank the measured side vs the old full-set shH
      "Similarity.scala" -> Set(
        "q", "probes", // fixed query/probe sets
        "cent", "centArrays", "pqCentArrays", "qcd", // K-row trained models
        "tot", // 1-row corpus-count aggregate (cellQuota)
        "coarseCentArrays", // K-row coarse-centroid arrays (IVF-PQ assign)
        "cArr", // same K-row coarse model, bound to a val for reuse
        "rqcd"), // ADC distance table, ≤ Q·probes·PqM·PqK rows (50·4·4·16)
      "DlqQueries.scala" -> Set("offsets"), // per-level offsets, ≤ 10 rows
      "TextAnalysis.scala" -> Set(
        "nDocs", "total", "vocab", "tot", "minTok", "n", // 1-row aggregates
        "win", // the single winning BPE merge pair
        "rates", // per-source rates, bounded by #sources
        "per"), // per-source LM totals, bounded by #sources (driftJs)
      "StreamingQuantizer.scala" ->
        Set("model", // K-row trained coarse model
          "pqModel"), // 1-row nested codebook, PqM×PqK×subDim floats
      // not a frame: one hadoop Configuration per commit-log scan, the
      // broadcast Spark's own parquet scan makes for its reader factory
      "Shim.scala" -> Set("session"))
    val srcRoot = java.nio.file.Paths.get("src/main/scala")
    val broadcastRe =
      """broadcast\(\s*([A-Za-z_][A-Za-z0-9_]*)""".r
    val violations = scala.collection.mutable.ArrayBuffer[String]()
    java.nio.file.Files.walk(srcRoot).forEach { p =>
      if (p.toString.endsWith(".scala")) {
        val text = new String(java.nio.file.Files.readAllBytes(p), "UTF-8")
        val fname = p.getFileName.toString
        broadcastRe.findAllMatchIn(text).foreach { m =>
          val arg = m.group(1)
          if (!bounded.getOrElse(fname, Set.empty).contains(arg))
            violations += s"$fname: broadcast($arg…)"
        }
      }
    }
    assert(violations.isEmpty,
      "broadcast() of a frame not in the bounded allowlist (SF-growing " +
        "table? add it here only with a boundedness argument): " +
        violations.mkString("; "))
  }

  SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
    test(s"$name: no cartesian product, wide scans pruned") {
      val plan = fn(spark, sf0001).queryExecution.executedPlan
      val planStr = plan.toString
      assert(!planStr.contains("CartesianProduct"),
        s"$name plans a cartesian product")
      val scans = allScans(plan)
      // iterative operators (d_dup_clusters) return a plan rooted at a
      // localCheckpoint'd RDD — the file scans ran inside the already-
      // materialized rounds, so an RDD scan root is the expected shape
      // there, not a vacuous gate
      def rddScans(p: SparkPlan): Seq[SparkPlan] = p.collectWithSubqueries {
        case a: AdaptiveSparkPlanExec => rddScans(a.inputPlan)
        case r: org.apache.spark.sql.execution.RDDScanExec => Seq(r)
      }.flatten
      // t_cms_heavy's returned frame is the bounded (20-row) certificate
      // assembly from the driver-held sketch — the distributed stages
      // (sketch merge + exact top-k) ran before the collect, so a
      // LocalTableScan root is its expected shape, not a missing scan
      // src_runtime_prune (round-15): the gated probe EXECUTES the star
      // join inside runtimePruneCensus (read-tracker assertions ran
      // against that execution); the returned frame is the probed rows
      // re-wrapped as a local relation so the caller doesn't run the
      // full join a second time (round-14 ADVICE) — a LocalTableScan
      // root is its expected shape; the pruning behavior is gated by
      // runtimePruneCensus's own read-tracker require (which this test's
      // execution just exercised) plus RuntimeFilterSpec
      // t_bpe_merges joined round 15: the merges table is assembled from
      // the loop's collected single-row winners (a LocalTableScan); its
      // corpus scan lives in the shared BPE build, whose consumers
      // t_bpe_tokenize / t_vocab_coverage keep real scans under this gate
      val localAssembly =
        Set("t_cms_heavy", "src_runtime_prune", "t_bpe_merges")
      // DataSource V2 reads (the commit-log scans) plan BatchScanExec,
      // not FileSourceScanExec — a real scan for the vacuous-gate test,
      // with its own pruning gate: the V2 scan's readSchema must be the
      // query's projection, not the table width (CommitLogV2Spec pins
      // the per-file parquet request behind it)
      def v2Scans(p: SparkPlan): Seq[
          org.apache.spark.sql.execution.datasources.v2.BatchScanExec] =
        p.collectWithSubqueries {
          case a: AdaptiveSparkPlanExec => v2Scans(a.inputPlan)
          case b: org.apache.spark.sql.execution.datasources.v2
              .BatchScanExec => Seq(b)
        }.flatten
      val v2 = v2Scans(plan)
      assert(scans.nonEmpty || v2.nonEmpty || rddScans(plan).nonEmpty ||
          localAssembly.contains(name),
        s"$name: no FileSourceScanExec found — the pruning gate is vacuous")
      v2.filter(_.scan.description().startsWith("graft-commitlog"))
        // an AGG-PUSHDOWN scan's readSchema is the pushed aggregate's
        // OUTPUT (group keys + one pseudo-column per aggregate, e.g.
        // count_star0/min_x1) — pushdown beyond projection, not a missed
        // one; AggPushdownSpec pins its zero-data-pages gate
        .filterNot(_.scan.description().contains(" AGG-PUSHDOWN "))
        .foreach { b =>
          // the change feed's tag/version columns are partition-constant
          // metadata, not table width — a CDF read legitimately carries
          // them on top of its (pruned) data projection
          val dataCols = b.scan.readSchema().fieldNames
            .filterNot(Set("_change_type", "_commit_version"))
          assert(dataCols.length <= 3,
            s"$name: commit-log V2 scan reads " +
              s"${b.scan.readSchema().fieldNames.mkString(",")} — " +
              "projection not pushed")
        }
      // no raw single-partition shuffle of base-table data (the global
      // Window.orderBy scale-killer): any SinglePartition exchange must sit
      // above an aggregation or limit, i.e. carry reduced data
      singlePartitionExchanges(plan).foreach { ex =>
        val reduced = ex.children.head.collectWithSubqueries {
          case a: AdaptiveSparkPlanExec if aggregatesOrLimits(a.inputPlan) => a
          case p if p.nodeName.contains("Aggregate") ||
            p.nodeName.contains("Limit") => p
        }
        assert(reduced.nonEmpty,
          s"$name funnels unaggregated data into one partition:\n$ex")
      }
      // no UNAGGREGATED global window: a partition-less Window must sit
      // above reduced data (an aggregation or limit) — base-table-sized
      // inputs belong in distributedPercentRank's range-bucket + offsets
      // formulation, not a single-partition sort
      globalWindows(plan).foreach { w =>
        val reduced = w.children.head.collectWithSubqueries {
          case a: AdaptiveSparkPlanExec if aggregatesOrLimits(a.inputPlan) => a
          case p if p.nodeName.contains("Aggregate") ||
            p.nodeName.contains("Limit") => p
        }
        assert(reduced.nonEmpty,
          s"$name runs a global window over unaggregated data:\n$w")
      }
      scans.foreach { scan =>
        val loc = scan.relation.location.rootPaths.mkString(",")
        wideTables.foreach { case (table, nCols) =>
          if (loc.contains(s"$table.parquet")) {
            assert(scan.requiredSchema.size < nCols,
              s"$name reads ALL $nCols columns of $table " +
                s"(got ${scan.requiredSchema.map(_.name).mkString(", ")})")
          }
        }
      }
      // media blobs must NEVER shuffle: every multimodal operator's claim
      // is that decode/hash/sample happens map-side and only small
      // derived rows reach an exchange — enforce it on the plan, don't
      // just document it. (BinaryType columns in an exchange's output
      // would ship the blobs across the cluster at 100 TB.)
      def exchanges(p: SparkPlan): Seq[SparkPlan] = p.collectWithSubqueries {
        case a: AdaptiveSparkPlanExec => exchanges(a.inputPlan)
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec =>
          Seq(e)
      }.flatten
      exchanges(plan).foreach { ex =>
        val binCols = ex.output.filter(_.dataType ==
          org.apache.spark.sql.types.BinaryType).map(_.name)
        assert(binCols.isEmpty,
          s"$name shuffles binary blob column(s) ${binCols.mkString(", ")}")
      }
    }
  }
}
