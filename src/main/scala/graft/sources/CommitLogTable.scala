package graft.sources

import java.util

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{Path => HadoopPath}
import org.apache.spark.paths.SparkPath
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, GenericInternalRow, UnsafeProjection}
import org.apache.spark.sql.connector.catalog.{SupportsRead, SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder, Statistics, SupportsPushDownFilters, SupportsPushDownRequiredColumns, SupportsReportStatistics}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, SupportsAdmissionControl, SupportsTriggerAvailableNow}
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, WriteBuilder}
import org.apache.spark.sql.execution.datasources.PartitionedFile
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.execution.datasources.v2.parquet.ParquetPartitionReaderFactory
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.sources.{DataSourceRegister, EqualTo, Filter, GreaterThan, GreaterThanOrEqual, In, IsNull, LessThan, LessThanOrEqual, StringStartsWith}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.sql.vectorized.ColumnarBatch
import org.apache.spark.unsafe.types.UTF8String

import graft.streaming.CommitLogIngest

/** DataSource V2 face of the graft commit-log table — batch AND streaming
  * reads over the table `streaming/CommitLogIngest` writes, on the PUBLIC
  * connector API only (`TableProvider`/`MicroBatchStream`/
  * `SupportsAdmissionControl`), replacing the round-9 V1 `Source` that rode
  * deprecated `execution.streaming` internals.
  *
  * Streaming (`spark.readStream.format("graft-commitlog")`): table VERSIONS
  * are the stream's offsets (the DeltaSource architecture). Each micro-batch
  * plans `addedFiles((lastOffset, latestVersion])` — exactly the files those
  * versions added, resolved through direct `log/version=N` addressing — so a
  * downstream pipeline pays O(new data) per trigger regardless of table
  * size, and exactly-once per version falls out of the engine's offset log.
  * ADMISSION CONTROL (`maxVersionsPerTrigger` option) caps how many versions
  * one trigger may swallow: a reader catching up on a long backlog processes
  * it as bounded micro-batches instead of one giant batch — the
  * `SupportsAdmissionControl` contract Delta/Kafka readers use, and the
  * reason V1 had to go (it has no admission hook).
  *
  * Batch (`spark.read.format("graft-commitlog")`): the snapshot at
  * `versionAsOf` (default: latest) as a table scan, with filter PUSHDOWN —
  * `SupportsPushDownFilters` hands the scan the query's predicates, and
  * bounds on the commit-time stats-indexed column prune entire files before
  * any is opened (the index consult is one small metadata read; Spark
  * re-evaluates every filter post-scan, so pruning is pure speedup, never a
  * correctness dependency). Streaming readers get the same file skipping
  * via explicit `index.lo`/`index.hi` options (the micro-batch scan is
  * created before any predicate exists in the plan).
  *
  * The readers decode through Spark's own parquet reader (see
  * [[CommitLogReaderFactory]]), the one `CommitLogIngest.snapshot` runs:
  * a field missing from an older file is NULL, which is what makes
  * log-recorded schema evolution readable straight through this source.
  */
class CommitLogTableProvider extends TableProvider with DataSourceRegister {

  override def shortName(): String = "graft-commitlog"

  /** A user-declared `.schema(...)` is accepted (required to start a reader
    * before the table's first commit). */
  override def supportsExternalMetadata(): Boolean = true

  /** The catalog hands a CREATE TABLE location back as a file: URI —
    * normalize to the plain local path the nio-based log format uses. */
  private def tableDir(options: util.Map[String, String]): String =
    LayoutDirs.localPath(Option(options.get("path")).getOrElse(
      throw new IllegalArgumentException(
        "graft-commitlog requires .option(\"path\", <tableDir>)")))

  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val dir = tableDir(options)
    // a time-travel pin reads under ITS generation's schema (a version
    // before a rename/drop resolves its own logical names — the API
    // snapshot()'s rule, now shared by the V2 option surface)
    require(options.get("versionAsOf") == null ||
        options.get("timestampAsOf") == null,
      "versionAsOf and timestampAsOf are mutually exclusive")
    val pinned: Option[Long] =
      Option(options.get("versionAsOf")).map(_.toLong)
        .orElse(Option(options.get("timestampAsOf")).map { t =>
          val ms = t.toLongOption.getOrElse(
            java.sql.Timestamp.valueOf(t).getTime)
          CommitLogIngest.versionAt(dir, ms)
        })
    val base =
      if (CommitLogIngest.latestVersion(dir) >= 0)
        CommitLogIngest.snapshotSchema(CommitLogPlanning.session, dir,
          pinned.getOrElse(-1L))
      else
        // a CREATEd-but-empty table declares its schema via the marker
        // (CommitLogIngest.createTable) — what lets a writer or reader
        // start before the first commit without a .schema(...) the writer
        // API has no way to pass
        CommitLogIngest.declaredSchema(dir).getOrElse(
          throw new IllegalArgumentException(
            s"cannot infer schema: $dir has no committed version and no " +
              "declared schema — CommitLogIngest.createTable(dir, schema) " +
              "first, or pass .schema(...) on a reader"))
    // the CHANGE FEED surface: every row the read delivers is tagged
    if (Option(options.get("readChangeFeed")).exists(_.toBoolean)) {
      // a data schema already claiming a CDF column name would produce a
      // duplicate-column schema and ambiguous reads — refuse loudly
      // (round-12 ADVICE; the Delta reserved-column rule)
      val clash = Seq("_change_type", "_commit_version")
        .filter(base.fieldNames.contains)
      require(clash.isEmpty,
        s"readChangeFeed: table already declares reserved CDF column(s) " +
          s"${clash.mkString(", ")} — rename them to read this table as " +
          "a change feed")
      base.add("_change_type", StringType).add("_commit_version", LongType)
    } else base
  }

  /** The table's declared hive-style layout, as identity transforms — what
    * lets `df.write...partitionBy(cols)` pass Spark's check that the
    * requested partitioning matches the table's (first writes declare the
    * layout via `.option("partitionCols", ...)` or
    * `CommitLogIngest.createTable`). */
  override def inferPartitioning(options: CaseInsensitiveStringMap)
      : Array[Transform] =
    CommitLogIngest.partitionColsOf(tableDir(options))
      .map(c =>
        org.apache.spark.sql.connector.expressions.Expressions.identity(c))
      .toArray

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new CommitLogTable(tableDir(properties), schema, partitioning)
}

class CommitLogTable(tableDir: String, declared: StructType,
    parts: Array[Transform] = Array.empty)
    extends Table with SupportsRead with SupportsWrite
    with org.apache.spark.sql.connector.catalog.SupportsDeleteV2 {

  override def name(): String = s"graft-commitlog[$tableDir]"

  /** The table root, for the SQL DML strategy (`plans/CommitLogDml`). */
  def dir: String = tableDir

  override def schema(): StructType = declared

  override def partitioning(): Array[Transform] = parts

  override def capabilities(): util.Set[TableCapability] =
    Set(TableCapability.BATCH_READ, TableCapability.MICRO_BATCH_READ,
      TableCapability.BATCH_WRITE, TableCapability.TRUNCATE,
      TableCapability.STREAMING_WRITE).asJava

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new CommitLogScanBuilder(tableDir, declared, options)

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new CommitLogWriteBuilder(tableDir, info)

  /** SQL `DELETE FROM t WHERE …` → one copy-on-write log version through
    * [[CommitLogIngest.deleteWhere]] (the `SupportsDeleteV2` contract):
    * Spark asks [[canDeleteWhere]] first, so a predicate this translator
    * cannot express fails ANALYSIS loudly instead of deleting the wrong
    * rows. DELETE with no WHERE arrives as an empty predicate array =
    * delete-all (the table stays readable and empty). */
  override def canDeleteWhere(
      predicates: Array[org.apache.spark.sql.connector.expressions.filter.Predicate])
      : Boolean =
    predicates.forall(p => V2PredicateColumns.toColumn(p).isDefined)

  override def deleteWhere(
      predicates: Array[org.apache.spark.sql.connector.expressions.filter.Predicate])
      : Unit = {
    val pred = predicates.map(p => V2PredicateColumns.toColumn(p).getOrElse(
      throw new UnsupportedOperationException(
        s"graft-commitlog DELETE: cannot translate predicate $p")))
      .reduceOption(_ && _)
      .getOrElse(org.apache.spark.sql.functions.lit(true))
    CommitLogIngest.deleteWhere(CommitLogPlanning.session, tableDir, pred,
      statsCol = CommitLogIngest.indexedCol(tableDir))
    ()
  }
}

/** DataSource V2 `Predicate` → `Column` translation for the SQL DELETE
  * path — public connector expression API only (no internal
  * PredicateUtils): supports =, <, <=, >, >=, IS_NULL, IS_NOT_NULL,
  * AND/OR/NOT over single-name references and primitive literals.
  * Anything else returns None and the DELETE fails analysis loudly. */
private[sources] object V2PredicateColumns {
  import org.apache.spark.sql.Column
  import org.apache.spark.sql.connector.expressions.{Expression => VExpr, Literal => VLit, NamedReference}
  import org.apache.spark.sql.connector.expressions.filter.{And => VAnd, Not => VNot, Or => VOr, Predicate => VPred}
  import org.apache.spark.sql.functions.{col, lit}

  private def value(l: VLit[_]): Option[Any] = l.value() match {
    case u: org.apache.spark.unsafe.types.UTF8String => Some(u.toString)
    case n @ (_: java.lang.Long | _: java.lang.Integer |
        _: java.lang.Short | _: java.lang.Byte | _: java.lang.Double |
        _: java.lang.Float | _: java.lang.Boolean) => Some(n)
    case d: org.apache.spark.sql.types.Decimal => Some(d.toJavaBigDecimal)
    case _ => None
  }

  private def operand(e: VExpr): Option[Column] = e match {
    case r: NamedReference if r.fieldNames.length == 1 =>
      Some(col(r.fieldNames()(0)))
    case l: VLit[_] => value(l).map(lit)
    case _ => None
  }

  def toColumn(p: VPred): Option[Column] = p match {
    case a: VAnd =>
      for (l <- toColumn(a.left()); r <- toColumn(a.right())) yield l && r
    case o: VOr =>
      for (l <- toColumn(o.left()); r <- toColumn(o.right())) yield l || r
    case n: VNot => toColumn(n.child()).map(!_)
    case _ =>
      val ch = p.children()
      (p.name(), ch.length) match {
        // DELETE with no WHERE arrives as the ALWAYS_TRUE predicate
        case ("ALWAYS_TRUE", 0) => Some(lit(true))
        case ("ALWAYS_FALSE", 0) => Some(lit(false))
        case ("IS_NULL", 1) => operand(ch(0)).map(_.isNull)
        case ("IS_NOT_NULL", 1) => operand(ch(0)).map(_.isNotNull)
        case (op, 2) =>
          for {
            l <- operand(ch(0))
            r <- operand(ch(1))
            c <- op match {
              case "=" => Some(l === r)
              case "<>" => Some(l =!= r)
              case ">" => Some(l > r)
              case ">=" => Some(l >= r)
              case "<" => Some(l < r)
              case "<=" => Some(l <= r)
              case _ => None
            }
          } yield c
        case _ => None
      }
  }
}

class CommitLogScanBuilder(tableDir: String, schema: StructType,
    options: CaseInsensitiveStringMap)
    extends ScanBuilder
    with SupportsPushDownFilters with SupportsPushDownRequiredColumns
    with org.apache.spark.sql.connector.read.SupportsPushDownAggregates {

  private val indexCol: Option[String] = CommitLogIngest.indexedCol(tableDir)
  private var pushed: Array[Filter] = Array.empty
  private var required: StructType = schema
  private var pushedAgg: Option[(StructType, Seq[Seq[Any]])] = None

  /** Aggregate pushdown (round-12 verdict task 7): COUNT(*) / COUNT(col)
    * / MIN / MAX with no GROUP BY answer from parquet FOOTERS plus the
    * deletion-vector masks — zero data pages opened. The gate is strict
    * and every decline falls back to the normal scan (pure speedup,
    * never a semantic fork):
    *
    *  - no pushed filters (their residual evaluation needs rows);
    *  - COUNT(*) = Σ footer row counts − Σ masked positions (exact under
    *    masks: positions are recorded once, never re-recorded);
    *  - COUNT(col) needs per-chunk null counts and NO masks (a masked
    *    row's nullness is unknowable from metadata);
    *  - MIN/MAX need per-chunk stats on an INTEGRAL or STRING column and
    *    NO masks (the extreme row might be masked) — doubles decline
    *    (NaN ordering makes footer stats unsafe, the same rule as the
    *    stats index), and a chunk with absent/empty stats declines. */
  override def supportCompletePushDown(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation)
      : Boolean = CommitLogAgg.shapeOk(agg, pushed, options, partCols)

  override def pushAggregation(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation)
      : Boolean = {
    if (!CommitLogAgg.shapeOk(agg, pushed, options, partCols)) return false
    pushedAgg = CommitLogAgg.compute(tableDir, schema, options, agg)
    pushedAgg.isDefined
  }

  /** Column pruning: the scan delivers only the projected fields, and the
    * reader requests only those columns from parquet — the other columns'
    * pages are never decoded (or, on an object store, fetched). */
  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  /** [lo, hi] key bound a single filter implies on the indexed column.
    * INTEGRAL values only: truncating a fractional value (5.5 → 5) would
    * STRENGTHEN the bound and prune files whose rows match the original
    * comparison — e.g. GreaterThan(score, 5.5) must not become lo = 6
    * against a file whose keys live in [5.6, 5.9]. A double/float-keyed
    * index is simply never pruned through pushed filters (the explicit
    * index.lo/index.hi options remain available). */
  private def intOf(v: Any): Option[Long] = CommitLogPlanning.intOf(v)

  private def boundOf(c: String, f: Filter): Option[(Long, Long)] = f match {
    case EqualTo(`c`, v) => intOf(v).map(n => (n, n))
    case GreaterThan(`c`, v) => intOf(v).map(n => (n + 1, Long.MaxValue))
    case GreaterThanOrEqual(`c`, v) => intOf(v).map(n => (n, Long.MaxValue))
    case LessThan(`c`, v) => intOf(v).map(n => (Long.MinValue, n - 1))
    case LessThanOrEqual(`c`, v) => intOf(v).map(n => (Long.MinValue, n))
    case _ => None
  }

  /** Filter value as a String, for the truncated-string index consult
    * (round 12). ASCII enforcement happens at PRUNE time against both
    * sides — here any string value is accepted. */
  private def strOf(v: Any): Option[String] = CommitLogPlanning.strOf(v)

  /** INCLUSIVE [lo, hi] string bounds a filter implies on a column —
    * strict comparisons weaken to inclusive (strings have no +1; a
    * looser bound keeps extra files, never drops matching ones). */
  private def anyStrBound(f: Filter)
      : Option[(String, (Option[String], Option[String]))] = f match {
    case EqualTo(c, v) => strOf(v).map(s => c -> (Some(s), Some(s)))
    case GreaterThan(c, v) => strOf(v).map(s => c -> (Some(s), None))
    case GreaterThanOrEqual(c, v) => strOf(v).map(s => c -> (Some(s), None))
    case LessThan(c, v) => strOf(v).map(s => c -> (None, Some(s)))
    case LessThanOrEqual(c, v) => strOf(v).map(s => c -> (None, Some(s)))
    case StringStartsWith(c, p) if p.nonEmpty =>
      // rows match only if they carry prefix p: lo = p, and every match
      // is STRICTLY below prefixUpper(p) — using it as the inclusive hi
      // is conservative by one boundary string and prunes files lying
      // wholly ABOVE the prefix range (without it, only the below-lo
      // side ever pruned prefix probes); no upper bound when the prefix
      // has no incrementable char
      Some(c -> (Some(p), CommitLogPlanning.prefixUpper(p)))
    case In(c, vs) if vs.nonEmpty =>
      // an IN list implies [min(values), max(values)] — coarse (gaps
      // inside the envelope stay unpruned) but sound, and exactly what
      // a dashboard's `source IN ('a','b')` needs to skip cold files
      val ss = vs.toSeq.map(strOf)
      if (ss.exists(_.isEmpty)) None
      else Some(c -> (Some(ss.flatten.min), Some(ss.flatten.max)))
    case _ => None
  }

  /** [lo, hi] a filter implies on ANY column (the multi-column index
    * consults whichever filtered column has stats). */
  private def anyBound(f: Filter): Option[(String, (Long, Long))] = f match {
    case EqualTo(c, v) => intOf(v).map(n => c -> (n, n))
    case GreaterThan(c, v) => intOf(v).map(n => c -> (n + 1, Long.MaxValue))
    case GreaterThanOrEqual(c, v) =>
      intOf(v).map(n => c -> (n, Long.MaxValue))
    case LessThan(c, v) => intOf(v).map(n => c -> (Long.MinValue, n - 1))
    case LessThanOrEqual(c, v) =>
      intOf(v).map(n => c -> (Long.MinValue, n))
    case In(c, vs) if vs.nonEmpty =>
      // the [min, max] envelope of the list (sound; interior gaps keep
      // their files — the per-file probe is a range check, not a set)
      val ns = vs.toSeq.map(intOf)
      if (ns.exists(_.isEmpty)) None
      else Some(c -> (ns.flatten.min, ns.flatten.max))
    case _ => None
  }

  private val partCols: Seq[String] = CommitLogIngest.partitionColsOf(tableDir)

  /** Partition-dir constraint a single filter implies on a partition
    * column — the hive-layout half of file skipping (the stats index is
    * the other). Same integral-only rule as [[boundOf]] for ranges;
    * string equality compares the ESCAPED form the writer rendered. */
  private def partConstraintOf(f: Filter): Option[PartConstraint] = f match {
    case EqualTo(c, v) if partCols.contains(c) =>
      intOf(v).map(n => PartRange(c, n, n)).orElse(v match {
        case s: String => Some(PartEquals(c, PartitionPaths.escape(s)))
        case u: UTF8String =>
          Some(PartEquals(c, PartitionPaths.escape(u.toString)))
        case b: java.lang.Boolean => Some(PartEquals(c, b.toString))
        case _ => None
      })
    case GreaterThan(c, v) if partCols.contains(c) =>
      intOf(v).map(n => PartRange(c, n + 1, Long.MaxValue))
    case GreaterThanOrEqual(c, v) if partCols.contains(c) =>
      intOf(v).map(n => PartRange(c, n, Long.MaxValue))
    case LessThan(c, v) if partCols.contains(c) =>
      intOf(v).map(n => PartRange(c, Long.MinValue, n - 1))
    case LessThanOrEqual(c, v) if partCols.contains(c) =>
      intOf(v).map(n => PartRange(c, Long.MinValue, n))
    case IsNull(c) if partCols.contains(c) => Some(PartIsNull(c))
    case In(c, vs) if partCols.contains(c) && vs.nonEmpty =>
      CommitLogPlanning.partIn(c, vs)
    // NO IsNotNull pruner: NULL's dir value ("null") can legitimately be
    // shared by a real "null" string, whose rows DO match IsNotNull —
    // pruning the dir would drop them (see PartitionPaths.NullDir)
    case _ => None
  }

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    // take every filter: partition-dir constraints and index bounds prune
    // whole files, and Spark's parquet reader skips row groups with
    // whichever it can build against each file's footer; return
    // EVERYTHING as residual — Spark re-applies the row filters, so a
    // stale index or an unusable filter can cost speed but never rows
    pushed = filters
    filters
  }

  override def pushedFilters(): Array[Filter] = pushed

  /** Per-column [lo, hi] for the index consult: pushed-filter bounds on
    * EVERY integral column (the multi-column stats prune with whichever
    * has index rows), intersected per column, merged with the explicit
    * `index.lo`/`index.hi` options (which address the declared statsCol —
    * the streaming reader's route to the same skipping). */
  private def bounds: Map[String, (Long, Long)] = {
    val fromFilters = pushed.flatMap(anyBound).toSeq
    val fromOptions = (Option(options.get("index.lo")).map(_.toLong),
      Option(options.get("index.hi")).map(_.toLong)) match {
      case (None, None) => Seq.empty
      case (lo, hi) => indexCol.toSeq.map(c =>
        c -> (lo.getOrElse(Long.MinValue), hi.getOrElse(Long.MaxValue)))
    }
    (fromFilters ++ fromOptions)
      .groupBy(_._1)
      .map { case (c, bs) =>
        c -> (bs.map(_._2._1).max, bs.map(_._2._2).min)
      }
  }

  /** Per-column equality-key sets for the BLOOM consult (E-177): an
    * EqualTo contributes its key, a bounded In its list (an unbounded
    * list would make the per-file probe itself expensive — the [min,max]
    * envelope in [[anyBound]] still applies). Multiple equality filters
    * on one column intersect; an EMPTY intersection (x=1 AND x=2) simply
    * skips the bloom consult — the row filters already yield the empty
    * result, pruning has nothing to add. The explicit `index.eq` option
    * (comma-separated keys, addressing the declared statsCol) is the
    * STREAMING reader's route to the same skipping — the engine does not
    * push data filters into micro-batch scans, exactly like
    * `index.lo`/`index.hi` for the range consult. */
  private def eqKeys: Map[String, Seq[Long]] = {
    val perFilter: Seq[(String, Seq[Long])] = pushed.toSeq.flatMap {
      case EqualTo(c, v) => intOf(v).map(n => c -> Seq(n))
      case In(c, vs) if vs.nonEmpty && vs.length <= 256 =>
        val ns = vs.toSeq.map(intOf)
        if (ns.exists(_.isEmpty)) None else Some(c -> ns.flatten)
      case _ => None
    }
    val fromOptions = Option(options.get("index.eq")).toSeq.flatMap { s =>
      val ks = s.split(',').toSeq.flatMap(_.trim.toLongOption)
      if (ks.isEmpty) Seq.empty else indexCol.toSeq.map(c => c -> ks)
    }
    (perFilter ++ fromOptions).groupBy(_._1)
      .map { case (c, ks) =>
        c -> ks.map(_._2.toSet).reduce(_ intersect _).toSeq.sorted
      }
      .filter(_._2.nonEmpty)
  }

  /** Per-column INCLUSIVE string bounds for the truncated-string index
    * consult, intersected per column (max of los, min of his — any
    * ordering disagreement is resolved safely at prune time by the
    * ASCII gate). */
  private def strBounds: Map[String, (Option[String], Option[String])] =
    pushed.flatMap(anyStrBound).groupBy(_._1).map { case (c, bs) =>
      val los = bs.flatMap(_._2._1)
      val his = bs.flatMap(_._2._2)
      c -> (if (los.isEmpty) None else Some(los.max),
        if (his.isEmpty) None else Some(his.min))
    }

  override def build(): Scan = pushedAgg match {
    case Some((st, row)) => new CommitLogAggScan(tableDir, st, row)
    case None =>
      new CommitLogScan(tableDir, required, options, bounds, pushed,
        pushed.flatMap(partConstraintOf).toSeq, strBounds, eqKeys)
  }
}

/** Footer-only aggregate evaluation (driver-side, O(files) metadata
  * reads — the same order as a stats-index write; no data page is ever
  * opened). */
private[sources] object CommitLogAgg {
  import org.apache.spark.sql.connector.expressions.{Expression => VExpr, NamedReference}
  import org.apache.spark.sql.connector.expressions.aggregate.{Aggregation, Count, CountStar, Max => VMax, Min => VMin}

  private def refName(e: VExpr): Option[String] = e match {
    case r: NamedReference if r.fieldNames.length == 1 =>
      Some(r.fieldNames()(0))
    case _ => None
  }

  /** Pushable shape: no residual filters, no CDF, aggregates from the
    * supported set, and GROUP BY either absent or entirely on PARTITION
    * columns — the hive layout makes each file a member of exactly one
    * group, so per-group answers are per-group footer sums (round-13
    * verdict task 5). */
  def shapeOk(agg: Aggregation, pushed: Array[Filter],
      options: CaseInsensitiveStringMap,
      partCols: Seq[String]): Boolean =
    pushed.isEmpty &&
      agg.groupByExpressions.forall(e =>
        refName(e).exists(partCols.contains)) &&
      !Option(options.get("readChangeFeed")).exists(_.toBoolean) &&
      agg.aggregateExpressions.nonEmpty &&
      agg.aggregateExpressions.forall {
        case _: CountStar => true
        case c: Count => !c.isDistinct && refName(c.column).isDefined
        case m: VMin => refName(m.column).isDefined
        case m: VMax => refName(m.column).isDefined
        case _ => false
      }

  /** (output schema, result rows — one per group, or one global row)
    * when every aggregate is answerable EXACTLY from footers + masks;
    * None declines to the normal scan. */
  def compute(tableDir: String, schema: StructType,
      options: CaseInsensitiveStringMap, agg: Aggregation)
      : Option[(StructType, Seq[Seq[Any]])] = {
    val spark = CommitLogPlanning.session
    // the same dual-pin refusal CommitLogScan.toBatch enforces — the
    // pushed-aggregate path must not silently prefer one pin (round-13
    // regression: count(*) bypassed toBatch entirely)
    require(options.get("versionAsOf") == null ||
        options.get("timestampAsOf") == null,
      "versionAsOf and timestampAsOf are mutually exclusive")
    val vOpt = Option(options.get("versionAsOf")).map(_.toLong)
      .orElse(Option(options.get("timestampAsOf")).map { t =>
        val ms = t.toLongOption.getOrElse(
          java.sql.Timestamp.valueOf(t).getTime)
        CommitLogIngest.versionAt(tableDir, ms)
      })
    val v = vOpt.getOrElse(CommitLogIngest.latestVersion(tableDir))
    // a CREATEd-but-empty table: COUNT(*) = 0, MIN/MAX = NULL
    val (files, dvs) =
      if (v < 0 && vOpt.isEmpty)
        (Seq.empty[String], Map.empty[String, Seq[Long]])
      else CommitLogIngest.liveState(spark, tableDir, v)
    val nameMap = CommitLogIngest.mappingAt(spark, tableDir, v)
    val needsStats = agg.aggregateExpressions.exists {
      case _: CountStar => false
      case _ => true
    }
    if (needsStats && dvs.nonEmpty) return None
    // one footer read per file, reused across every aggregate; ONE
    // hadoop Configuration for the whole pass (its XML parse costs more
    // than the footer read itself)
    val conf = new Configuration()
    type Chunks =
      Seq[(String, org.apache.parquet.column.statistics.Statistics[_], Long)]
    val footers: Seq[(String, Long, Chunks)] = files.map { f =>
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new HadoopPath(f), conf))
      try {
        import scala.jdk.CollectionConverters._
        val blocks = r.getFooter.getBlocks.asScala.toSeq
        (f, blocks.map(_.getRowCount).sum,
          blocks.flatMap(_.getColumns.asScala.map(c =>
            (c.getPath.toDotString, c.getStatistics,
              c.getValueCount))): Chunks)
      } finally r.close()
    }
    val maskedByFile: Map[String, Long] =
      if (dvs.isEmpty) Map.empty
      else CommitLogIngest.dvPositionsFor(spark, tableDir, dvs, files)
        .map { case (f, ps) => f -> ps.length.toLong }
    def declaredType(c: String): Option[org.apache.spark.sql.types.DataType] =
      schema.find(_.name == c).map(_.dataType)
    def statsOk(st: org.apache.parquet.column.statistics.Statistics[_])
        : Boolean = st != null && !st.isEmpty
    /** The aggregate list evaluated over a footer SUBSET (one partition
      * group, or the whole table): None = decline to the normal scan. */
    def evalAggs(sub: Seq[(String, Long, Chunks)])
        : Option[Seq[(String,
          org.apache.spark.sql.types.DataType, Any)]] = {
      val totalRows = sub.map(_._2).sum
      val masked = sub.map(t => maskedByFile.getOrElse(t._1, 0L)).sum
      def chunksOf(phys: String) = sub.flatMap(_._3.filter(_._1 == phys))
      // exact extreme over every chunk carrying the column; None =
      // decline, Some(null) = the column is all-NULL subset-wide
      def extreme(c: String, wantMin: Boolean): Option[Any] = {
        val ok = declaredType(c).exists {
          case org.apache.spark.sql.types.LongType |
              org.apache.spark.sql.types.IntegerType |
              org.apache.spark.sql.types.ShortType |
              org.apache.spark.sql.types.ByteType |
              org.apache.spark.sql.types.StringType => true
          case _ => false
        }
        if (!ok) return None
        val phys = nameMap.getOrElse(c, c)
        val chunks = chunksOf(phys)
        // a file lacking the column (older generation) reads all-NULL —
        // it simply doesn't appear in chunks and contributes nothing
        if (chunks.exists(ch => !statsOk(ch._2))) return None
        val vals = chunks.filter(_._2.hasNonNullValue).map { ch =>
          if (wantMin) ch._2.genericGetMin() else ch._2.genericGetMax()
        }
        if (vals.isEmpty) return Some(null)
        def toComparable(x: Any): Any = x match {
          case b: org.apache.parquet.io.api.Binary => b.toStringUsingUTF8
          case other => other
        }
        val cs = vals.map(toComparable)
        val winner = cs.reduce { (a, b) =>
          val cmp = (a, b) match {
            case (x: java.lang.Long, y: java.lang.Long) => x.compareTo(y)
            case (x: java.lang.Integer, y: java.lang.Integer) =>
              x.compareTo(y)
            case (x: String, y: String) =>
              // UTF8 binary order = parquet's unsigned byte order for
              // the footer's string stats; compare the same way
              org.apache.spark.unsafe.types.UTF8String.fromString(x)
                .compareTo(org.apache.spark.unsafe.types.UTF8String
                  .fromString(y))
            case _ => return None // mixed widths across generations
          }
          if ((cmp <= 0) == wantMin) a else b
        }
        // Short/Byte columns are stored as parquet INT32, so footer
        // stats box to java.lang.Integer — narrow to the declared width
        // or the GenericInternalRow's getShort/getByte accessor throws
        Some(winner match {
          case i: java.lang.Integer => declaredType(c) match {
            case Some(org.apache.spark.sql.types.ShortType) =>
              java.lang.Short.valueOf(i.shortValue)
            case Some(org.apache.spark.sql.types.ByteType) =>
              java.lang.Byte.valueOf(i.byteValue)
            case _ => i
          }
          case other => other
        })
      }
      def nonNullCount(c: String): Option[Any] = {
        // complex columns (array/struct/map) store their chunks under
        // LEAF paths (`c.list.element`, `c.key_value.key`), never the
        // top-level name — chunksOf would come back empty and the
        // "absent column → all-NULL → 0" rule below would silently
        // misreport COUNT(c) as 0. Only flat (atomic) columns are
        // answerable from top-level stats.
        val flat = declaredType(c).exists {
          case _: org.apache.spark.sql.types.ArrayType |
              _: org.apache.spark.sql.types.StructType |
              _: org.apache.spark.sql.types.MapType => false
          case _ => true
        }
        if (!flat) return None
        val phys = nameMap.getOrElse(c, c)
        val chunks = chunksOf(phys)
        if (chunks.exists(ch => !statsOk(ch._2) || !ch._2.isNumNullsSet))
          return None
        Some(java.lang.Long.valueOf(
          chunks.map(ch => ch._3 - ch._2.getNumNulls).sum))
      }
      val out = agg.aggregateExpressions.toSeq.map {
        case _: CountStar =>
          Some(("count_star", org.apache.spark.sql.types.LongType,
            java.lang.Long.valueOf(totalRows - masked): Any))
        case c: Count =>
          val n = refName(c.column).get
          nonNullCount(n).map(v0 =>
            (s"count_$n", org.apache.spark.sql.types.LongType, v0))
        case m: VMin =>
          val n = refName(m.column).get
          extreme(n, wantMin = true).map(v0 =>
            (s"min_$n", declaredType(n).get, v0))
        case m: VMax =>
          val n = refName(m.column).get
          extreme(n, wantMin = false).map(v0 =>
            (s"max_$n", declaredType(n).get, v0))
        case _ => None
      }
      if (out.exists(_.isEmpty)) None else Some(out.flatten)
    }
    val gb = agg.groupByExpressions.toSeq.map(e => refName(e).get)
    // the field TEMPLATE (names + types) comes from a whole-set pass —
    // also the global answer when there is no GROUP BY. A whole-set
    // decline falls back even if individual groups could answer
    // (soundness over coverage).
    val template = evalAggs(footers) match {
      case Some(t) => t
      case None => return None
    }
    if (gb.isEmpty) {
      Some((StructType(template.zipWithIndex.map { case ((nm, dt, _), i) =>
        org.apache.spark.sql.types.StructField(s"$nm$i", dt)
      }), Seq(template.map(_._3))))
    } else {
      // GROUP BY partition columns: each hive-laid-out file belongs to
      // exactly ONE group (its `col=value` dir chain), so a group's
      // answer is the aggregate over its own files' footers. Any file
      // missing a segment (legacy flat layout) makes attribution
      // impossible → decline. String group values are declined when the
      // rendered dir is the NULL sentinel (a real "null" string and SQL
      // NULL share the dir — only the row bytes can distinguish them).
      val gbTypes = gb.map { c =>
        declaredType(c) match {
          case Some(dt) => dt
          case None => return None
        }
      }
      def parseSeg(v: String,
          dt: org.apache.spark.sql.types.DataType): Option[Any] =
        if (v == PartitionPaths.NullDir) dt match {
          case org.apache.spark.sql.types.StringType => None // ambiguous
          case _ => Some(null)
        }
        else dt match {
          case org.apache.spark.sql.types.LongType =>
            v.toLongOption.map(java.lang.Long.valueOf)
          case org.apache.spark.sql.types.IntegerType |
              org.apache.spark.sql.types.DateType =>
            v.toIntOption.map(java.lang.Integer.valueOf)
          case org.apache.spark.sql.types.ShortType =>
            v.toShortOption.map(java.lang.Short.valueOf)
          case org.apache.spark.sql.types.ByteType =>
            v.toByteOption.map(java.lang.Byte.valueOf)
          case org.apache.spark.sql.types.BooleanType =>
            v.toBooleanOption.map(java.lang.Boolean.valueOf)
          case org.apache.spark.sql.types.StringType =>
            Some(java.net.URLDecoder.decode(v, "UTF-8"))
          case _ => None
        }
      val byGroup = footers.map { t =>
        val segs = gb.map(c => PartitionPaths.valueOf(t._1, c) match {
          case Some(s) => s
          case None => return None
        })
        (segs, t)
      }.groupBy(_._1)
      val rows = byGroup.toSeq.sortBy(_._1.mkString(" ")).flatMap {
        case (segs, members) =>
          val sub = members.map(_._2)
          val live = sub.map(_._2).sum -
            sub.map(t => maskedByFile.getOrElse(t._1, 0L)).sum
          if (live <= 0L) None // a fully-masked group has no rows
          else {
            val keyVals = segs.zip(gbTypes).map { case (s, dt) =>
              parseSeg(s, dt) match {
                case Some(x) => x
                case None => return None
              }
            }
            evalAggs(sub) match {
              case Some(fields) => Some(keyVals ++ fields.map(_._3))
              case None => return None
            }
          }
      }
      val st = StructType(
        gb.zip(gbTypes).map { case (c, dt) =>
          org.apache.spark.sql.types.StructField(c, dt) } ++
        template.zipWithIndex.map { case ((nm, dt, _), i) =>
          org.apache.spark.sql.types.StructField(s"$nm$i", dt) })
      Some((st, rows))
    }
  }
}

/** The scan a completely-pushed aggregate plans to: no input files at
  * all — the rows (one per group; one global row without GROUP BY) were
  * computed from footers at pushdown time. */
class CommitLogAggScan(tableDir: String, schema: StructType,
    rows: Seq[Seq[Any]]) extends Scan with Batch {
  override def readSchema(): StructType = schema
  override def description(): String =
    s"graft-commitlog[$tableDir] AGG-PUSHDOWN $schema"
  override def toBatch: Batch = this
  override def planInputPartitions(): Array[InputPartition] =
    Array(CommitLogInputPartition("<agg>"))
  override def createReaderFactory(): PartitionReaderFactory =
    new AggRowReaderFactory(schema, rows.map(_.toArray).toArray)
}

private[sources] class AggRowReaderFactory(schema: StructType,
    rows: Array[Array[Any]]) extends PartitionReaderFactory {
  override def createReader(partition: InputPartition)
      : PartitionReader[InternalRow] =
    new PartitionReader[InternalRow] {
      private var i = -1
      override def next(): Boolean = { i += 1; i < rows.length }
      override def get(): InternalRow =
        new GenericInternalRow(rows(i).map {
          case s: String => UTF8String.fromString(s)
          case v => v
        })
      override def close(): Unit = ()
    }
}

/** Partition-dir pruning constraints (scan-planning side of the hive
  * layout): `keeps` judges a file's RAW path value for the column; a file
  * without the segment is always kept (legacy/flat files are unprunable,
  * never unreadable). */
private[sources] sealed trait PartConstraint {
  def col: String
  def keeps(value: String): Boolean
}
private[sources] case class PartRange(col: String, lo: Long, hi: Long)
    extends PartConstraint {
  def keeps(v: String): Boolean =
    if (v == PartitionPaths.NullDir) false // a comparison never matches NULL
    else v.toLongOption.forall(n => n >= lo && n <= hi)
}
private[sources] case class PartEquals(col: String, v: String)
    extends PartConstraint {
  def keeps(value: String): Boolean = value == v
}
/** Membership in a rendered dir-value set — the DPP shape (`In` over a
  * partition column with the join side's collected keys). NO special
  * NULL-dir exclusion: the `null` dir is SHARED between NULL rows and
  * rows whose real string value renders as "null" (see
  * PartitionPaths.NullDir) — when the key set contains that rendering,
  * the dir may hold matching rows and must be kept; when it does not,
  * no row there can match (NULL never matches IN, and the dir's other
  * rows carry exactly the "null" rendering) and pruning is sound. */
private[sources] case class PartIn(col: String, vs: Set[String])
    extends PartConstraint {
  def keeps(value: String): Boolean = vs.contains(value)
}
private[sources] case class PartIsNull(col: String) extends PartConstraint {
  def keeps(value: String): Boolean = value == PartitionPaths.NullDir
}

class CommitLogScan(tableDir: String, schema: StructType,
    options: CaseInsensitiveStringMap, bounds: Map[String, (Long, Long)],
    filters: Array[Filter], partConstraints: Seq[PartConstraint] = Seq.empty,
    strBounds: Map[String, (Option[String], Option[String])] = Map.empty,
    eqKeys: Map[String, Seq[Long]] = Map.empty)
    extends Scan with SupportsReportStatistics
    with org.apache.spark.sql.connector.read.SupportsRuntimeFiltering {

  override def readSchema(): StructType = schema

  private def cdf: Boolean =
    Option(options.get("readChangeFeed")).exists(_.toBoolean)

  private def startingVersion: Option[Long] =
    Option(options.get("startingVersion")).map(_.toLong)

  override def description(): String =
    s"graft-commitlog[$tableDir] bounds=$bounds " +
      s"filters=${filters.mkString(",")} " +
      s"partitionPrune=${partConstraints.mkString(",")} cdf=$cdf"

  private lazy val pinnedVersion: Option[Long] = {
    val vAsOf = Option(options.get("versionAsOf")).map(_.toLong)
    val tAsOf = Option(options.get("timestampAsOf"))
    require(vAsOf.isEmpty || tAsOf.isEmpty,
      "versionAsOf and timestampAsOf are mutually exclusive")
    // the Delta option: epoch millis or 'yyyy-MM-dd HH:mm:ss' resolve
    // to the latest version committed at or before that instant
    vAsOf.orElse(tAsOf.map { t =>
      val ms = t.toLongOption.getOrElse(
        java.sql.Timestamp.valueOf(t).getTime)
      CommitLogIngest.versionAt(tableDir, ms)
    })
  }

  /** The ONE table version every resolution of this scan reads (round-14
    * ADVICE, medium): without it each runtime-filter generation re-read
    * latestVersion, and a commit landing between planning and execution
    * of a DPP query paired gen-1 partitions with the gen-0 reader
    * factory's nameMap/rowModeForced — a racing rename would translate
    * through a stale column mapping, and a racing DV-adding DML could
    * leave new deletion masks unapplied. Resolved lazily at the first
    * resolution (statistics or planning, whichever asks first) and fixed
    * for the scan's lifetime: stats, planning, factory and execution all
    * read one snapshot. None = the table had no committed version at
    * first resolution — such a scan stays a valid zero-row read even if
    * a first commit races in (snapshot isolation, same as any other
    * version). */
  private lazy val lockedVersion: Option[Long] = pinnedVersion.orElse {
    val latest = CommitLogIngest.latestVersion(tableDir)
    if (latest < 0) None else Some(latest)
  }

  // ---- RUNTIME FILTERING (E-179, the Iceberg/Delta dynamic-file-pruning
  // shape): after the build side of a join materializes, Spark hands this
  // scan the collected join-key values as `In`/`EqualTo` filters; they
  // merge into the SAME dir/index/sketch prune the static filters feed,
  // so a fact scan joined to a filtered dim opens only the files the
  // dim's keys can touch — decided before a single fact byte moves.
  @volatile private var rtBounds: Map[String, (Long, Long)] = Map.empty
  @volatile private var rtStrBounds
      : Map[String, (Option[String], Option[String])] = Map.empty
  @volatile private var rtEqKeys: Map[String, Seq[Long]] = Map.empty
  @volatile private var rtPart: Seq[PartConstraint] = Seq.empty
  @volatile private var rtGen: Int = 0

  private lazy val partCols: Set[String] =
    CommitLogIngest.partitionColsOf(tableDir).toSet

  /** Columns a runtime filter can act on: partition dirs prune the
    * layout columns; integral leaves prune through the stats index
    * (legacy + mins/maxs) and the statsCol's bloom sketch; string leaves
    * through the truncated-string bounds. Only columns of THIS scan's
    * (pruned) read schema may be advertised — Spark resolves the list
    * against the scan relation's output and a stray name is an
    * AnalysisException, not a skip (a join key is always in the output,
    * so nothing prunable is lost).
    *
    * RESTRICTED (round-14 ADVICE) to columns the scan can actually prune
    * with: partition columns, the declared statsCol, and columns the
    * stats index carries mins/maxs or strMins for. Advertising every
    * integral/string column made Spark inject DPP/runtime-filter
    * subqueries — build-side key collection on the driver — for join
    * keys whose files the prune would keep anyway: pure planning cost,
    * zero skipping. */
  private lazy val runtimePrunableCols: Set[String] = {
    // the stats-indexed physical column set is MEMOIZED per
    // (tableDir, version) in the companion (round 15): computing it
    // reads the index dir's merged parquet schema — a driver listing +
    // one footer per index file — and a fresh CommitLogScan is built
    // per query, so the unmemoized form re-paid that metadata I/O on
    // every planning of every commit-log query (measured ~2× steady-
    // state wall on src_grouped_agg). The index only changes when a
    // commit lands, and a commit moves the version — the memo key —
    // so a cached set can never be stale for the snapshot this scan
    // reads.
    val indexed =
      CommitLogScan.prunablePhysCols(tableDir, lockedVersion.getOrElse(-1L))
    // index rows are keyed by PHYSICAL names — translate each read-schema
    // (logical) column through the scan's pinned mapping before testing
    // membership (resolvedSnapshot is memoized; statistics already
    // resolved it, so this re-reads no metadata)
    val nameMap = resolvedSnapshot._2
    schema.fieldNames.filter { c =>
      val phys = nameMap.getOrElse(c, c)
      partCols.contains(c) || indexed.contains(phys)
    }.toSet
  }

  override def filterAttributes()
      : Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    schema.fields.collect {
      case f if (f.dataType == LongType || f.dataType == IntegerType ||
        f.dataType == ShortType || f.dataType == ByteType ||
        f.dataType == StringType) && runtimePrunableCols.contains(f.name) =>
        org.apache.spark.sql.connector.expressions.Expressions.column(f.name)
          : org.apache.spark.sql.connector.expressions.NamedReference
    }

  /** Runtime filters arrive ONCE, after the broadcast completes and
    * before the (re-)planning of input partitions; translation mirrors
    * the builder's static derivation. A value that does not render
    * (fractional against an integral column, unexpected type) simply
    * contributes nothing — Spark re-applies the row-level join anyway,
    * so runtime pruning is a speedup, never a semantic fork. */
  override def filter(filters: Array[Filter]): Unit = {
    val bounds = scala.collection.mutable.Map.empty[String, (Long, Long)]
    val strs = scala.collection.mutable.Map
      .empty[String, (Option[String], Option[String])]
    val eqs = scala.collection.mutable.Map.empty[String, Seq[Long]]
    val parts = scala.collection.mutable.ArrayBuffer.empty[PartConstraint]
    filters.foreach {
      case EqualTo(c, v) =>
        CommitLogPlanning.intOf(v).foreach { n =>
          bounds(c) = (n, n); eqs(c) = Seq(n)
        }
        CommitLogPlanning.strOf(v).foreach(s => strs(c) = (Some(s), Some(s)))
        if (partCols.contains(c)) CommitLogPlanning.partValue(v).foreach(r =>
          parts += PartIn(c, Set(r)))
      case In(c, vs) if vs.nonEmpty =>
        val ns = vs.toSeq.flatMap(CommitLogPlanning.intOf)
        if (ns.length == vs.length) {
          bounds(c) = (ns.min, ns.max)
          if (ns.length <= 256) eqs(c) = ns.distinct.sorted
        }
        val ss = vs.toSeq.flatMap(CommitLogPlanning.strOf)
        if (ss.length == vs.length && ss.nonEmpty)
          strs(c) = (Some(ss.min), Some(ss.max))
        if (partCols.contains(c)) parts ++= CommitLogPlanning.partIn(c, vs)
      case _ => () // other shapes carry no file-level evidence
    }
    rtBounds = bounds.toMap
    rtStrBounds = strs.toMap
    rtEqKeys = eqs.toMap
    rtPart = parts.toSeq
    rtGen += 1
  }

  private def intersect(a: Map[String, (Long, Long)],
      b: Map[String, (Long, Long)]): Map[String, (Long, Long)] =
    (a.keySet ++ b.keySet).map { c =>
      val bs = a.get(c).toSeq ++ b.get(c).toSeq
      c -> (bs.map(_._1).max, bs.map(_._2).min)
    }.toMap

  /** Snapshot resolution (live files → dir/index/sketch prune → mask
    * positions) under static AND runtime filters, memoized per
    * runtime-filter generation and shared between partition planning and
    * the statistics report — a second metadata pass per query measurably
    * inflates connector planning cost (the round-13 liveState lesson).
    * A runtime filter arriving after the statistics report (it always
    * does — stats are an optimizer-time question) recomputes once. */
  private val resolutionMemo = new java.util.concurrent.atomic.AtomicReference[
    (Int, (Array[InputPartition], Map[String, String], Seq[String]))]()

  private[graft] def resolvedSnapshot
      : (Array[InputPartition], Map[String, String], Seq[String]) = {
    val gen = rtGen
    val cached = resolutionMemo.get()
    if (cached != null && cached._1 == gen) cached._2
    else {
      val mergedEq = (eqKeys.keySet ++ rtEqKeys.keySet).flatMap { c =>
        val sets = eqKeys.get(c).toSeq ++ rtEqKeys.get(c).toSeq
        val merged = sets.map(_.toSet).reduce(_ intersect _)
        if (merged.isEmpty) None else Some(c -> merged.toSeq.sorted)
      }.toMap
      val mergedStr = (strBounds.keySet ++ rtStrBounds.keySet).map { c =>
        val bs = strBounds.get(c).toSeq ++ rtStrBounds.get(c).toSeq
        val los = bs.flatMap(_._1)
        val his = bs.flatMap(_._2)
        c -> (if (los.isEmpty) None else Some(los.max),
          if (his.isEmpty) None else Some(his.min))
      }.toMap
      // lockedVersion (not pinnedVersion): every generation resolves at
      // the SAME snapshot — see the lockedVersion doc for the race this
      // closes. A scan over a never-committed table resolves empty
      // without consulting the log again.
      val r = lockedVersion match {
        case None => (Array.empty[InputPartition],
          Map.empty[String, String], Seq.empty[String])
        case pinned => CommitLogBatch.resolve(tableDir, pinned,
          intersect(bounds, rtBounds), partConstraints ++ rtPart,
          mergedStr, mergedEq)
      }
      resolutionMemo.set((gen, r))
      r
    }
  }

  override def toBatch: Batch =
    if (cdf) {
      val from = startingVersion.getOrElse(
        throw new IllegalArgumentException(
          "readChangeFeed batch reads require " +
            ".option(\"startingVersion\", N) (inclusive)"))
      new CommitLogCdfBatch(tableDir, schema, from,
        Option(options.get("endingVersion")).map(_.toLong), filters)
    } else new CommitLogBatch(schema, filters, () => resolvedSnapshot)

  /** PRUNE-AWARE planning statistics (`SupportsReportStatistics`) — a
    * V2 scan without them reports `defaultSizeInBytes` (effectively
    * infinite), so a commit-log dimension table could NEVER
    * auto-broadcast and every join against one planned sort-merge.
    * sizeInBytes is the on-disk sum of exactly the files this scan will
    * open — AFTER partition/index/sketch pruning, so a day-filtered
    * fact side shrinks to its pruned size and becomes broadcastable —
    * via driver-side Files.size calls, the same O(files) metadata order
    * as planning itself (no Spark job). Deletion-vector masks only
    * remove rows, so the pre-mask size is a slight over-estimate —
    * conservative for broadcast decisions, never a wrong plan. numRows
    * stays unreported: exact row counts would cost footer reads per
    * planned query; size alone drives join strategy. CDF scans report
    * unknown (their cost is O(changed files), not snapshot size). */
  override def estimateStatistics(): Statistics =
    if (cdf) CommitLogScan.UnknownStats
    else {
      // any unsizable file → UNKNOWN, never 0: counting a file as free
      // would let a concurrently-vacuumed (or remote-storage) multi-GB
      // table report itself under the broadcast threshold and OOM the
      // join; unknown just keeps Spark's conservative default
      var failed = false
      val bytes = resolvedSnapshot._3.map { f =>
        try java.nio.file.Files.size(
          java.nio.file.Paths.get(LayoutDirs.localPath(f)))
        catch { case _: Exception => failed = true; 0L }
      }.sum
      if (failed) CommitLogScan.UnknownStats
      else new Statistics {
        override def sizeInBytes(): java.util.OptionalLong =
          java.util.OptionalLong.of(bytes)
        override def numRows(): java.util.OptionalLong =
          java.util.OptionalLong.empty()
      }
    }

  override def toMicroBatchStream(checkpointLocation: String)
      : MicroBatchStream =
    new CommitLogMicroBatchStream(tableDir, schema,
      Option(options.get("maxVersionsPerTrigger")).map(_.toLong), bounds,
      filters,
      Option(options.get("skipChangeCommits")).exists(_.toBoolean),
      partConstraints, cdf = cdf, startingVersion = startingVersion,
      strBounds = strBounds, eqKeys = eqKeys)
}

private[sources] object CommitLogScan {
  val UnknownStats: Statistics = new Statistics {
    override def sizeInBytes(): java.util.OptionalLong =
      java.util.OptionalLong.empty()
    override def numRows(): java.util.OptionalLong =
      java.util.OptionalLong.empty()
  }

  /** Physical column names the table's stats index can prune with
    * (mins/maxs/strMins leaves + the declared statsCol), memoized per
    * (tableDir, version) — see runtimePrunableCols for why. Bounded: one
    * small Set per (table, version) actually scanned in the session. */
  private val prunableMemo =
    scala.collection.concurrent.TrieMap.empty[(String, Long), Set[String]]

  private[sources] def prunablePhysCols(tableDir: String,
      version: Long): Set[String] =
    prunableMemo.getOrElseUpdate((tableDir, version), {
      val indexDir = s"$tableDir/index"
      val indexed: Set[String] =
        if (!LayoutDirs.hasParquetData(indexDir)) Set.empty
        else try {
          val idxSchema = CommitLogPlanning.session.read
            .option("mergeSchema", "true").parquet(indexDir).schema
          def leaves(s: String): Set[String] =
            idxSchema.find(_.name == s).map(_.dataType).collect {
              case st: StructType => st.fieldNames.toSet
            }.getOrElse(Set.empty)
          leaves("mins") ++ leaves("maxs") ++ leaves("strMins")
        } catch { case _: Exception => Set.empty }
      indexed ++ CommitLogIngest.indexedCol(tableDir).toSet
    })
}

/** Batch CHANGE-FEED scan over [startingVersion, endingVersion]: one
  * input partition per changed file — added files tagged "insert" via a
  * partition constant, change commits' stored cdf files carrying their
  * own `_change_type`; `_commit_version` is always a constant. Rows are
  * identical to `CommitLogIngest.changeFeed` (both read the same stored
  * change data). */
class CommitLogCdfBatch(tableDir: String, schema: StructType,
    startingVersion: Long, endingVersion: Option[Long],
    filters: Array[Filter]) extends Batch {

  private lazy val parts: Array[InputPartition] =
    CommitLogPlanning.cdfPartitions(tableDir, startingVersion - 1,
      endingVersion.getOrElse(CommitLogIngest.latestVersion(tableDir)),
      filters)

  override def planInputPartitions(): Array[InputPartition] = parts

  override def createReaderFactory(): PartitionReaderFactory =
    // an overwrite of a masked file ships positions — the whole scan
    // drops to the position-aware row path (Spark refuses mixed modes)
    new CommitLogReaderFactory(schema, filters,
      rowModeForced = parts.exists {
        case p: CommitLogInputPartition => p.dvPositions.nonEmpty
        case _ => false
      },
      constantShapes = CommitLogReaderFactory.CdfShapes)
}

/** Snapshot-at-a-version batch scan over a resolution the owning
  * [[CommitLogScan]] computed (and shares with its statistics report —
  * one metadata pass per query, not two). */
class CommitLogBatch(schema: StructType, filters: Array[Filter],
    resolve: () => (Array[InputPartition], Map[String, String], Seq[String]))
    extends Batch {

  private lazy val resolved = resolve()

  override def planInputPartitions(): Array[InputPartition] = resolved._1

  override def createReaderFactory(): PartitionReaderFactory =
    // Spark refuses mixed row/columnar partitions in one scan, so ANY
    // live mask forces the whole scan onto the row path (which applies
    // positions); OPTIMIZE restores the columnar fast path
    new CommitLogReaderFactory(schema, filters,
      rowModeForced = resolved._1.exists {
        case p: CommitLogInputPartition => p.dvPositions.nonEmpty
        case _ => false
      },
      nameMap = resolved._2)
}

private[sources] object CommitLogBatch {

  /** Partitions, the column mapping in force at the pinned version
    * (resolved together so the factory translates through the same
    * generation the planner pruned with), and the pruned file list (the
    * statistics report sizes exactly these). */
  def resolve(tableDir: String, versionAsOf: Option[Long],
      bounds: Map[String, (Long, Long)],
      partConstraints: Seq[PartConstraint],
      strBounds: Map[String, (Option[String], Option[String])],
      eqKeys: Map[String, Seq[Long]])
      : (Array[InputPartition], Map[String, String], Seq[String]) = {
    val spark = CommitLogPlanning.session
    val v = versionAsOf.getOrElse(CommitLogIngest.latestVersion(tableDir))
    // a CREATEd-but-not-yet-written table is a valid zero-row SELECT
    // (its schema came from the declared marker); an EXPLICIT versionAsOf
    // on such a table still fails loudly through liveFiles
    if (v < 0 && versionAsOf.isEmpty) (Array.empty, Map.empty, Seq.empty)
    else {
      // liveState FIRST: its contract guard owns the "no committed
      // version" refusal (the mapping resolve reads the log and would
      // otherwise surface a raw PATH_NOT_FOUND on an empty table)
      val (files, dvs) = CommitLogIngest.liveState(spark, tableDir, v)
      val nameMap = CommitLogIngest.mappingAt(spark, tableDir, v)
      // partition dirs prune FIRST (pure path string work, no reads at
      // all), then the stats index consults one small metadata read.
      // Both stay correct under deletion vectors: a mask only REMOVES
      // rows, so pruning on pre-delete stats is conservative, never
      // wrong — at worst a fully-masked file is opened and yields 0 rows.
      // Index rows are keyed by PHYSICAL column names (they are written
      // from the files), so logical filter bounds translate first.
      def physKeys[T](m: Map[String, T]): Map[String, T] =
        if (nameMap.isEmpty) m
        else m.map { case (c, b) => nameMap.getOrElse(c, c) -> b }
      val dirPruned = CommitLogPlanning.pruneByPath(files, partConstraints)
      val pruned = CommitLogPlanning.pruneByIndex(spark, tableDir,
        dirPruned, physKeys(bounds), physKeys(strBounds), physKeys(eqKeys))
      // masked files ship their positions IN the partition descriptor —
      // one driver-side metadata read, O(mask rows), small by design
      // (OPTIMIZE materializes heavy masks back into clean files)
      val posByFile =
        CommitLogIngest.dvPositionsFor(spark, tableDir, dvs, pruned)
      (pruned.map(f => CommitLogInputPartition(f,
        dvPositions = posByFile.getOrElse(f, Array.emptyLongArray))
        : InputPartition).toArray, nameMap, pruned)
    }
  }
}

/** One table version range per micro-batch; versions ARE offsets. */
class CommitLogMicroBatchStream(tableDir: String, schema: StructType,
    maxVersionsPerTrigger: Option[Long], bounds: Map[String, (Long, Long)],
    filters: Array[Filter], skipChangeCommits: Boolean = false,
    partConstraints: Seq[PartConstraint] = Seq.empty,
    cdf: Boolean = false, startingVersion: Option[Long] = None,
    strBounds: Map[String, (Option[String], Option[String])] = Map.empty,
    eqKeys: Map[String, Seq[Long]] = Map.empty)
    extends MicroBatchStream with SupportsTriggerAvailableNow {

  require(maxVersionsPerTrigger.forall(_ > 0),
    s"maxVersionsPerTrigger must be positive, got $maxVersionsPerTrigger")
  require(!(cdf && skipChangeCommits),
    "readChangeFeed delivers change commits — skipChangeCommits " +
      "contradicts it")

  /** `Trigger.AvailableNow` end offset, FROZEN at prepare time (the
    * `SupportsTriggerAvailableNow` contract): the run drains versions
    * committed before it started — as bounded admission-controlled
    * micro-batches — then self-stops; commits landing mid-drain wait for
    * the next run. Without this interface Spark 4 falls back to ONE
    * capped batch, which would silently strand the rest of the backlog. */
  @volatile private var frozenEnd: Option[Long] = None

  override def prepareForTriggerAvailableNow(): Unit =
    frozenEnd = Some(CommitLogIngest.latestVersion(tableDir))

  /** A CDF stream may start mid-history (`startingVersion`, inclusive —
    * the Delta option); the plain stream always starts fresh. */
  override def initialOffset(): Offset =
    CommitLogOffset(startingVersion.map(_ - 1).getOrElse(-1L))

  /** The engine calls the admission-control overload below. */
  override def latestOffset(): Offset =
    throw new UnsupportedOperationException(
      "latestOffset(Offset, ReadLimit) should be called instead of this")

  override def getDefaultReadLimit: ReadLimit = ReadLimit.allAvailable()

  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val from = CommitLogOffset.version(start)
    val latest = frozenEnd.fold(CommitLogIngest.latestVersion(tableDir))(
      f => math.min(CommitLogIngest.latestVersion(tableDir), f))
    // admission control: never promise more than maxVersionsPerTrigger
    // versions past the start — a catch-up reader drains a long backlog
    // as bounded micro-batches instead of one giant one
    val capped = maxVersionsPerTrigger
      .map(m => math.min(latest, from + m)).getOrElse(latest)
    CommitLogOffset(math.max(capped, from))
  }

  override def reportLatestOffset(): Offset =
    CommitLogOffset(CommitLogIngest.latestVersion(tableDir))

  override def planInputPartitions(start: Offset, end: Offset)
      : Array[InputPartition] = {
    // the engine plans batch 0 even when no offset moved (a reader started
    // on a created-but-empty table): an empty version range is an empty
    // batch, not a retention error
    if (CommitLogOffset.version(end) <= CommitLogOffset.version(start))
      return Array.empty
    val spark = CommitLogPlanning.session
    if (cdf) {
      // the CHANGE-FEED stream: each version's changed files, exactly
      // once per version (versions are the offsets — the engine's offset
      // log gives exactly-once delivery of each version's changes)
      return CommitLogPlanning.cdfPartitions(tableDir,
        CommitLogOffset.version(start), CommitLogOffset.version(end), filters)
    }
    val files = CommitLogIngest.addedFiles(spark, tableDir,
      CommitLogOffset.version(start), CommitLogOffset.version(end),
      skipChangeCommits)
    val m = nameMap
    def physKeys[T](b: Map[String, T]): Map[String, T] =
      if (m.isEmpty) b else b.map { case (c, x) => m.getOrElse(c, c) -> x }
    val dirPruned = CommitLogPlanning.pruneByPath(files, partConstraints)
    CommitLogPlanning.pruneByIndex(spark, tableDir, dirPruned,
        physKeys(bounds), physKeys(strBounds), physKeys(eqKeys))
      .map(f => CommitLogInputPartition(f): InputPartition).toArray
  }

  /** Column mapping at stream construction (streams read forward; a
    * mid-stream rename applies from the next restart). CDF partitions
    * read stored change files, which carry their stage-time logical
    * names — they stay untranslated. */
  private lazy val nameMap: Map[String, String] =
    if (cdf) Map.empty
    else CommitLogIngest.mappingAt(CommitLogPlanning.session, tableDir,
      CommitLogIngest.latestVersion(tableDir))

  /** Row mode is derived from TABLE STATE, never from plan-order
    * coupling (round-12 ADVICE: a mutable last-planned-batch flag relied
    * on Spark materializing partitions before consulting the factory —
    * true today via supportsColumnar's evaluation order, but a silent
    * row-resurrection bug the moment that ordering changes). Only CDF
    * partitions can ever carry mask positions (an overwrite of a masked
    * file ships them); the plain stream delivers add-time files, which
    * are unmasked by construction. A published mask dir is the stateless
    * conservative signal — CDF streams on a table that ever masked read
    * via the row path (they are O(new data) by design; the columnar fast
    * path matters for full snapshots, not change feeds). */
  override def createReaderFactory(): PartitionReaderFactory =
    new CommitLogReaderFactory(schema, filters,
      rowModeForced = cdf &&
        java.nio.file.Files.exists(java.nio.file.Paths.get(tableDir, "dv")),
      nameMap = nameMap,
      constantShapes =
        if (cdf) CommitLogReaderFactory.CdfShapes else Seq(Set.empty))

  override def deserializeOffset(json: String): Offset =
    CommitLogOffset(json.trim.toLong)

  override def commit(end: Offset): Unit = ()

  override def stop(): Unit = ()

  override def toString: String = s"CommitLogMicroBatchStream[$tableDir]"
}

/** Offsets are table versions; the json form is the bare number (which also
  * keeps checkpoints written by the round-9 V1 source replayable). */
case class CommitLogOffset(version: Long) extends Offset {
  override def json(): String = version.toString
}

object CommitLogOffset {
  def version(o: Offset): Long = o match {
    case CommitLogOffset(v) => v
    case other => other.json.trim.toLong
  }
}

/** Driver-side planning helpers shared by the batch and streaming scans. */
private[graft] object CommitLogPlanning {

  /** Filter value as an exact Long — INTEGRAL widths only (truncating a
    * fractional value would STRENGTHEN a bound and prune matching
    * files; see the builder's bound derivation). */
  def intOf(v: Any): Option[Long] = v match {
    case n: java.lang.Long => Some(n.longValue)
    case n: java.lang.Integer => Some(n.longValue)
    case n: java.lang.Short => Some(n.longValue)
    case n: java.lang.Byte => Some(n.longValue)
    case _ => None
  }

  /** A filter value rendered the way the writer names its partition dir
    * (None when it does not render: fractional against an integral
    * column, an unexpected type). */
  def partValue(v: Any): Option[String] =
    intOf(v).map(_.toString).orElse(v match {
      case s: String => Some(PartitionPaths.escape(s))
      case u: UTF8String => Some(PartitionPaths.escape(u.toString))
      case b: java.lang.Boolean => Some(b.toString)
      case _ => None
    })

  /** `c IN (vs)` on a partition column as a dir-membership constraint —
    * only when EVERY non-null value renders: a partial set would wrongly
    * prune the unrendered values' dirs. */
  def partIn(c: String, vs: Array[Any]): Option[PartConstraint] = {
    val rendered = vs.toSeq.filter(_ != null).flatMap(partValue)
    if (rendered.length == vs.count(_ != null)) Some(PartIn(c, rendered.toSet))
    else None
  }

  /** Filter value as a String (ASCII enforcement happens at prune time
    * against both sides — here any string is accepted). */
  def strOf(v: Any): Option[String] = v match {
    case s: String => Some(s)
    case u: UTF8String => Some(u.toString)
    case _ => None
  }

  /** The change feed over versions (fromExclusive, to]: one partition per
    * changed file, its tag and version as constants, minus the files
    * whose constants REFUTE a pushed filter — a `_commit_version` bound
    * prunes other versions' files before any is opened. */
  def cdfPartitions(tableDir: String, fromExclusive: Long, to: Long,
      filters: Array[Filter]): Array[InputPartition] =
    CommitLogIngest.cdfFiles(session, tableDir, fromExclusive, to)
      .map { case (f, v, tag, dvPos) =>
        CommitLogInputPartition(f,
          tag.map(t => "_change_type" -> t).toMap +
            ("_commit_version" -> v.toString),
          dvPositions = dvPos)
      }
      .filterNot(p => filters.exists(refutes(_, p.constants)))
      .toArray

  /** Can no row with these constants satisfy `f`? Exact decisions only:
    * integral comparisons against a number-valued constant, string
    * equality and IN against the raw constant; a constant is never NULL.
    * Anything else keeps the file (Spark re-filters). */
  private def refutes(f: Filter, consts: Map[String, String]): Boolean = {
    def differs(c: String, v: Any): Boolean =
      (intOf(v), consts(c).toLongOption) match {
        case (Some(n), Some(k)) => k != n
        case _ => strOf(v).exists(_ != consts(c))
      }
    def cmp(c: String, v: Any)(ok: Int => Boolean): Boolean =
      (intOf(v), consts(c).toLongOption) match {
        case (Some(n), Some(k)) => !ok(k.compare(n))
        case _ => false
      }
    f match {
      case EqualTo(c, v) if consts.contains(c) => differs(c, v)
      case In(c, vs) if consts.contains(c) => vs.forall(differs(c, _))
      case GreaterThan(c, v) if consts.contains(c) => cmp(c, v)(_ > 0)
      case GreaterThanOrEqual(c, v) if consts.contains(c) =>
        cmp(c, v)(_ >= 0)
      case LessThan(c, v) if consts.contains(c) => cmp(c, v)(_ < 0)
      case LessThanOrEqual(c, v) if consts.contains(c) => cmp(c, v)(_ <= 0)
      case IsNull(c) => consts.contains(c)
      case _ => false
    }
  }

  def session: SparkSession =
    SparkSession.getActiveSession
      .orElse(SparkSession.getDefaultSession)
      .getOrElse(throw new IllegalStateException(
        "graft-commitlog planning requires an active SparkSession"))

  /** Drop the files whose hive-style partition dirs PROVE they cannot
    * match: pure path-string work on the driver, zero reads — the first
    * prune a 100-TB date-partitioned scan applies. A file without the
    * partition segment (legacy/flat) is always kept. */
  def pruneByPath(files: Seq[String], cs: Seq[PartConstraint])
      : Seq[String] =
    if (cs.isEmpty) files
    else files.filter(f =>
      cs.forall(c => PartitionPaths.valueOf(f, c.col).forall(c.keeps)))

  /** Drop the files the commit-time stats index PROVES cannot overlap the
    * per-column [lo, hi] bounds — MULTI-COLUMN: the declared statsCol
    * prunes through the legacy `min_key`/`max_key` row shape, every other
    * integral column through the `mins`/`maxs` structs, so a filter on
    * the SECOND column opens only its overlapping files. Index rows from
    * different schema generations merge-read; a file whose row lacks the
    * filtered column's stats (NULL / absent field / legacy row) is always
    * kept — prune is a speedup, never a correctness dependency. One
    * small metadata read. */
  def pruneByIndex(spark: SparkSession, tableDir: String,
      files: Seq[String], bounds: Map[String, (Long, Long)],
      strBounds: Map[String, (Option[String], Option[String])] = Map.empty,
      eqKeys: Map[String, Seq[Long]] = Map.empty)
      : Seq[String] = {
    if ((bounds.isEmpty && strBounds.isEmpty && eqKeys.isEmpty) ||
        files.isEmpty ||
        !LayoutDirs.hasParquetData(s"$tableDir/index")) return files
    val idx = spark.read.option("mergeSchema", "true")
      .parquet(s"$tableDir/index")
      .filter(col("path").isin(files: _*))
    val schema = idx.schema
    val indexCol = CommitLogIngest.indexedCol(tableDir)
    def structField(s: String, c: String): Option[org.apache.spark.sql.Column] =
      schema.find(_.name == s).map(_.dataType).collect {
        case st: StructType if st.fieldNames.contains(c) =>
          col(s).getField(c)
      }
    val conds = bounds.toSeq.flatMap { case (c, (lo, hi)) =>
      val legacy =
        if (indexCol.contains(c))
          Seq(col("max_key") < lo || col("min_key") > hi)
        else Seq.empty
      val v2 = for {
        mn <- structField("mins", c)
        mx <- structField("maxs", c)
      } yield org.apache.spark.sql.functions.coalesce(
        mx < lo || mn > hi, org.apache.spark.sql.functions.lit(false))
      legacy ++ v2.toSeq
    }
    // BLOOM prune (E-177): an equality/IN probe on the sketched column
    // drops every file whose stored filter PROVES none of the keys is
    // present. Judged IN the distributed metadata job — the sketch bytes
    // (~1 MiB/file) are deserialized executor-side and never collected;
    // only surviving paths return. NULL/absent sketch keeps the file
    // (legacy index rows, non-integral statsCol). The sketch is built
    // over the declared statsCol only, so other columns never consult it.
    val bloomHere = schema.fields.exists(f =>
      f.name == "bloom" && f.dataType ==
        org.apache.spark.sql.types.BinaryType)
    val bloomConds = eqKeys.toSeq.flatMap { case (c, keys) =>
      if (!bloomHere || keys.isEmpty || !indexCol.contains(c)) Seq.empty
      else Seq(col("bloom").isNotNull &&
        !org.apache.spark.sql.graft.BloomAgg.mightContainAny(
          col("bloom"), keys))
    }
    val allConds = conds ++ bloomConds
    val intPrunable: Set[String] =
      if (allConds.isEmpty) Set.empty
      else idx.filter(allConds.reduce(_ || _))
        .select("path").collect().map(_.getString(0)).toSet
    // TRUNCATED-STRING bounds judge DRIVER-SIDE over the same metadata
    // read (the prefix-incremented upper bound is per-row logic): prune a
    // file only when PROVABLY disjoint — both operands ASCII (the regime
    // where every ordering agrees), and the stored max either exact or
    // safely prefix-incremented. A NULL/absent stat keeps the file.
    val strActive = strBounds.toSeq.flatMap { case (c, b) =>
      (for {
        mn <- structField("strMins", c)
        mx <- structField("strMaxs", c)
        ex <- structField("strMaxExact", c)
      } yield (b, mn, mx, ex)).toSeq
    }
    val strPrunable: Set[String] =
      if (strActive.isEmpty) Set.empty
      else {
        val projected = idx.select(
          col("path") +: strActive.zipWithIndex.flatMap {
            case ((_, mn, mx, ex), i) =>
              Seq(mn.as(s"mn$i"), mx.as(s"mx$i"), ex.as(s"ex$i"))
          }: _*).collect()
        projected.flatMap { r =>
          val drop = strActive.zipWithIndex.exists {
            case (((lo, hi), _, _, _), i) =>
              val mn = Option(r.getAs[String](s"mn$i"))
              val mx = Option(r.getAs[String](s"mx$i"))
              val exact = !r.isNullAt(r.fieldIndex(s"ex$i")) &&
                r.getAs[Boolean](s"ex$i")
              val belowLo = (lo, mx) match {
                case (Some(l), Some(m)) if ascii(l) && ascii(m) =>
                  if (exact) m < l
                  else prefixUpper(m).exists(u => u <= l)
                case _ => false
              }
              val aboveHi = (hi, mn) match {
                case (Some(h), Some(m)) if ascii(h) && ascii(m) => m > h
                case _ => false
              }
              belowLo || aboveHi
          }
          if (drop) Some(r.getString(0)) else None
        }.toSet
      }
    files.filterNot(intPrunable).filterNot(strPrunable)
  }

  private def ascii(s: String): Boolean = {
    var i = 0
    while (i < s.length) { if (s.charAt(i) >= 0x80) return false; i += 1 }
    true
  }

  /** The least string STRICTLY GREATER than every string carrying prefix
    * `p` (ASCII): increment the last incrementable char, drop the tail;
    * None when every char is already 0x7F — then the truncated max
    * yields no safe upper bound and the file is kept. */
  private[sources] def prefixUpper(p: String): Option[String] = {
    var i = p.length - 1
    while (i >= 0 && p.charAt(i) >= 0x7f) i -= 1
    if (i < 0) None
    else Some(p.substring(0, i) + (p.charAt(i) + 1).toChar)
  }
}

/** One file to read; `constants` supplies values for projected columns
  * the FILE does not carry (the change feed's `_change_type` tag on
  * append files and `_commit_version` everywhere), rendered per the
  * declared column type by the readers. */
case class CommitLogInputPartition(file: String,
    constants: Map[String, String] = Map.empty,
    dvPositions: Array[Long] = Array.emptyLongArray)
    extends InputPartition

/** Decodes each planned file through Spark's own parquet reader
  * (`ParquetPartitionReaderFactory`, the decoder `CommitLogIngest.snapshot`
  * also runs), so the V2 scan and the API read agree by construction:
  * by-name projection with NULL for a column an older file lacks, Spark's
  * type widening, row-group skipping from the pushed filters built against
  * each file's own footer, and the vectorized batch path. This factory
  * adds only what the log knows and the file does not:
  *
  *  - column mapping: the reader requests the PHYSICAL names the files
  *    carry and its output is positional, so Spark still sees the logical
  *    read schema; a filter on a mapped column is not pushed (Spark
  *    re-applies every filter above the scan);
  *  - constants (the change feed's `_change_type` tag on append files and
  *    `_commit_version` everywhere) ride as partition values — one inner
  *    factory per constant-column shape — re-projected to the scan's order;
  *  - deletion-vector positions: any live mask puts the whole scan in row
  *    mode (Spark refuses mixed row/columnar partitions), the reader adds
  *    Spark's parquet row-index column, and masked positions are dropped
  *    as rows stream by — the index counts physical rows, so row-group
  *    skipping never shifts it. */
class CommitLogReaderFactory(schema: StructType, filters: Array[Filter],
    rowModeForced: Boolean = false,
    nameMap: Map[String, String] = Map.empty,
    constantShapes: Seq[Set[String]] = Seq(Set.empty))
    extends PartitionReaderFactory {

  private val physSchema: StructType =
    if (nameMap.isEmpty) schema
    else StructType(schema.fields.map(f =>
      nameMap.get(f.name).map(p => f.copy(name = p)).getOrElse(f)))

  /** Per constant-column shape: Spark's reader over the file's columns
    * (then the row index in row mode) with the constants as partition
    * columns, and each scan slot's index in that reader's output. */
  private val readers: Map[Set[String], CommitLogReaderFactory.Shape] =
    constantShapes.map(_.intersect(physSchema.fieldNames.toSet)).distinct
      .map { cs =>
        val (consts, data) = physSchema.fields.partition(f => cs(f.name))
        // a column an older file lacks reads NULL, never "required column
        // missing" — the snapshot read's user-schema rule
        val read = StructType(data.map(_.copy(nullable = true)) ++
          (if (rowModeForced) Seq(CommitLogReaderFactory.RowIndex) else Nil))
        val slots = physSchema.fieldNames.map { n =>
          val i = data.indexWhere(_.name == n)
          if (i >= 0) i else read.length + consts.indexWhere(_.name == n)
        }
        cs -> CommitLogReaderFactory.Shape(
          org.apache.spark.sql.graft.Shim.parquetReaders(
            CommitLogPlanning.session, read, StructType(consts),
            filters.filterNot(_.references.exists(nameMap.contains))),
          slots, rowIndexAt = data.length)
      }.toMap

  private def readerFor(p: CommitLogInputPartition)
      : (CommitLogReaderFactory.Shape, PartitionedFile) = {
    val shape =
      readers(p.constants.keySet.intersect(physSchema.fieldNames.toSet))
    val consts = physSchema.filter(f => p.constants.contains(f.name))
    val values = new GenericInternalRow(consts.map(f =>
      CommitLogReaderFactory.constant(f, p.constants(f.name))).toArray)
    val path = new HadoopPath(p.file)
    val len = path.getFileSystem(shape.parquet.broadcastedConf.value.value)
      .getFileStatus(path).getLen
    CommitLogReadTracker.record(p.file)
    (shape, PartitionedFile(values, SparkPath.fromPath(path), 0L, len,
      Array.empty[String], 0L, len, Map.empty[String, Any]))
  }

  /** Uniform per scan: Spark's own rule for the result schema (which does
    * not depend on the file), unless a live mask forces row mode. */
  override def supportColumnarReads(partition: InputPartition): Boolean =
    !rowModeForced &&
      readers.values.head.parquet.supportColumnarReads(partition)

  override def createReader(partition: InputPartition)
      : PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[CommitLogInputPartition]
    val (shape, file) = readerFor(p)
    val in = shape.parquet.buildReader(file)
    val project: InternalRow => InternalRow =
      if (!rowModeForced && shape.inOrder) identity
      else {
        val proj = UnsafeProjection.create(shape.slots.toSeq
          .zip(physSchema.fields)
          .map { case (i, f) => BoundReference(i, f.dataType, true) })
        proj(_)
      }
    val dv = p.dvPositions
    new PartitionReader[InternalRow] {
      private var k = 0 // next candidate in the ascending mask positions
      private def masked(row: InternalRow): Boolean = dv.nonEmpty && {
        val pos = row.getLong(shape.rowIndexAt)
        while (k < dv.length && dv(k) < pos) k += 1
        k < dv.length && dv(k) == pos
      }
      override def next(): Boolean = {
        while (in.next()) if (!masked(in.get())) return true
        false
      }
      override def get(): InternalRow = project(in.get())
      override def close(): Unit = in.close()
    }
  }

  override def createColumnarReader(partition: InputPartition)
      : PartitionReader[ColumnarBatch] = {
    val (shape, file) =
      readerFor(partition.asInstanceOf[CommitLogInputPartition])
    val in = shape.parquet.buildColumnarReader(file)
    if (shape.inOrder) in
    else new PartitionReader[ColumnarBatch] {
      override def next(): Boolean = in.next()
      override def get(): ColumnarBatch = {
        val b = in.get()
        new ColumnarBatch(shape.slots.map(b.column), b.numRows)
      }
      override def close(): Unit = in.close()
    }
  }
}

object CommitLogReaderFactory {
  /** One constant-column shape's reader: `slots(i)` is scan column i's
    * index in the reader's output, `rowIndexAt` the row index's. */
  private case class Shape(parquet: ParquetPartitionReaderFactory,
      slots: Array[Int], rowIndexAt: Int) {
    val inOrder: Boolean = slots.sameElements(slots.indices)
  }

  /** The change feed's constant-column shapes: append files take both the
    * tag and the version as constants, stored change files carry their
    * own `_change_type` rows. */
  val CdfShapes: Seq[Set[String]] =
    Seq(Set("_change_type", "_commit_version"), Set("_commit_version"))

  /** Spark's parquet row-index column: the reader fills it with each
    * row's physical position in its file (nullable, or the reader looks
    * for it in the file as a required column). */
  private val RowIndex = StructField(
    ParquetFileFormat.ROW_INDEX_TEMPORARY_COLUMN_NAME, LongType)

  private def constant(f: StructField, v: String): Any = f.dataType match {
    case StringType => UTF8String.fromString(v)
    case LongType => v.toLong
    case other => throw new UnsupportedOperationException(
      s"graft-commitlog: unsupported constant column type $other " +
        s"for ${f.name}")
  }
}

/** Test-only visibility into which files the readers actually open (local
  * mode shares one JVM, so executors hit this object directly). Disabled
  * unless a spec turns it on; production reads never record. */
object CommitLogReadTracker {
  private val on = new java.util.concurrent.atomic.AtomicBoolean(false)
  private val opened = new java.util.concurrent.ConcurrentLinkedQueue[String]()
  def enable(): Unit = { opened.clear(); on.set(true) }
  def disable(): Unit = on.set(false)
  def record(path: String): Unit = if (on.get) opened.add(path)
  def drain(): Seq[String] = {
    val out = opened.iterator().asScala.toList
    opened.clear()
    out
  }
}
