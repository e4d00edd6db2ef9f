package graft.sources

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.write.{BatchWrite, DataWriter, DataWriterFactory, LogicalWriteInfo, PhysicalWriteInfo, SupportsTruncate, Write, WriteBuilder, WriterCommitMessage}
import org.apache.spark.sql.connector.write.streaming.{StreamingDataWriterFactory, StreamingWrite}
import org.apache.spark.sql.execution.datasources.OutputWriter
import org.apache.spark.sql.graft.Shim
import org.apache.spark.sql.types._

import graft.streaming.CommitLogIngest

/** DataSource V2 WRITE path of the graft commit-log table — the companion
  * of `CommitLogTable`'s read side, on the public connector API only
  * (`WriteBuilder`/`BatchWrite`/`StreamingWrite`). With it the table format
  * is drivable entirely from the standard writer surface:
  *
  *   - `df.write.format("graft-commitlog").option("path", dir).save()`
  *     appends as ONE atomic log version (multi-writer safe — the commit
  *     goes through the optimistic put-if-absent claim, so concurrent
  *     appends serialize without loss);
  *   - `.mode("overwrite")` truncates: the commit records
  *     remove(entire live set) + add(new files) atomically, with the
  *     single-attempt claim + restage loop that makes a racing append
  *     unable to survive the truncate;
  *   - `ds.writeStream.format("graft-commitlog")` is an EXACTLY-ONCE sink:
  *     each epoch commits its files together with a ("txn",
  *     "queryId:epochId") action, and a replayed epoch (at-least-once
  *     foreachBatch-style restart) is recognized by `lastTxnEpoch` and
  *     dropped — the Delta transaction-identifier design.
  *
  * EXECUTOR data path: each task streams its partition straight into a
  * task-unique parquet file under an invisible writer dir through Spark's
  * own parquet `OutputWriter` — the encoder every other commit-log write
  * uses, as the read side decodes through Spark's own parquet reader.
  * Nothing references the files until the DRIVER commit publishes their
  * add-actions in one atomic rename, so failed/speculative tasks just
  * abort-delete their file and a killed job leaves only unreferenced debris
  * for vacuum. Commit cost is O(files), never O(rows): at 100 TB the data
  * bytes move exactly once, executor-local, and the serialization point is
  * one metadata rename.
  *
  * The write schema is recorded as a schema action on the same commit when
  * it differs from the table's last (schema evolution rides the writer), and
  * `.option("statsCol", k)` captures the commit-time min/max file index the
  * read path prunes with. */
class CommitLogWriteBuilder(tableDir: String, info: LogicalWriteInfo)
    extends WriteBuilder with SupportsTruncate {

  private var overwrite = false

  override def truncate(): WriteBuilder = { overwrite = true; this }

  /** Partition columns: the writer option (`partitionCols` — the
    * first-write route, since `partitionBy` is only validated against
    * already-declared table partitioning) or the table's recorded layout.
    * Values live in hive-style `col=value` dirs AND stay in the files. */
  private def partitionCols: Seq[String] = {
    val opted = Option(info.options().get("partitionCols"))
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
      .getOrElse(Seq.empty)
    val cols =
      if (opted.nonEmpty) opted
      else CommitLogIngest.partitionColsOf(tableDir)
    val missing = cols.filterNot(info.schema().fieldNames.contains)
    require(missing.isEmpty,
      s"graft-commitlog: partition column(s) ${missing.mkString(", ")} " +
        "not in the write schema")
    cols
  }

  override def build(): Write = {
    // `.option("enableCdf"/"enableDv", "true")` request the per-table
    // switches (delta.enableChangeDataFeed / enableDeletionVectors,
    // default off) — flipped at COMMIT time, not here: build() runs at
    // write PLANNING, and an aborted or failed write must not leave a
    // permanent table-configuration change behind
    new CommitLogWrite(tableDir, info.schema(), info.queryId(), overwrite,
      Option(info.options().get("statsCol")), partitionCols,
      AutoCompact.fromOptions(info.options()),
      enableCdf =
        Option(info.options().get("enableCdf")).exists(_.toBoolean),
      enableDv =
        Option(info.options().get("enableDv")).exists(_.toBoolean))
  }
}

/** Auto-compaction policy for the streaming sink: every epoch lands ≥ 1
  * file, so a long-running sink manufactures exactly the small-file
  * problem OPTIMIZE exists to fix — with `autoCompact.enabled`, a
  * post-commit check runs `optimize` through the log every
  * `autoCompact.everyEpochs` epochs OR as soon as the live set holds
  * `autoCompact.smallFiles`+ files under `autoCompact.maxFileBytes`.
  * Compaction is just another OCC commit (a change commit live readers
  * skip via checkpoint resolution or `skipChangeCommits`), so the sink's
  * own epochs and any concurrent reader are undisturbed. */
case class AutoCompact(enabled: Boolean, everyEpochs: Long,
    smallFiles: Int, maxFileBytes: Long)

object AutoCompact {
  def fromOptions(
      options: org.apache.spark.sql.util.CaseInsensitiveStringMap)
      : AutoCompact = {
    val a = AutoCompact(
      enabled = Option(options.get("autoCompact.enabled"))
        .exists(_.toBoolean),
      everyEpochs = Option(options.get("autoCompact.everyEpochs"))
        .map(_.toLong).getOrElse(10L),
      smallFiles = Option(options.get("autoCompact.smallFiles"))
        .map(_.toInt).getOrElse(16),
      maxFileBytes = Option(options.get("autoCompact.maxFileBytes"))
        .map(_.toLong).getOrElse(128L * 1024L * 1024L))
    require(a.everyEpochs > 0 && a.smallFiles > 1 && a.maxFileBytes > 0,
      s"autoCompact: everyEpochs/maxFileBytes must be positive and " +
        s"smallFiles > 1, got $a")
    a
  }
}

/** One WriterCommitMessage per task: the files it wrote (none when the
  * partition was empty). */
case class CommitLogWriterCommit(files: Seq[String])
    extends WriterCommitMessage

class CommitLogWrite(tableDir: String, schema: StructType, queryId: String,
    overwrite: Boolean, statsCol: Option[String],
    partitionCols: Seq[String] = Seq.empty,
    autoCompact: AutoCompact = AutoCompact(false, 10L, 16, 128L << 20),
    enableCdf: Boolean = false, enableDv: Boolean = false)
    extends Write with BatchWrite with StreamingWrite {

  private val dataDir =
    s"$tableDir/data/w-${java.util.UUID.randomUUID().toString.take(12)}"

  private[graft] def epochDir(epochId: Long) = s"$dataDir/e$epochId"

  override def description(): String =
    s"graft-commitlog[$tableDir] overwrite=$overwrite " +
      s"partitionBy=${partitionCols.mkString(",")}"

  override def toBatch: BatchWrite = this

  override def toStreaming: StreamingWrite = {
    require(!overwrite,
      "graft-commitlog streaming sink supports append output mode only " +
        "(complete/update would truncate the log every epoch)")
    this
  }

  override def useCommitCoordinator(): Boolean = true

  /** Spark's parquet writer set-up for the physical write schema, reused
    * by every epoch while that schema holds. */
  private var writers: (StructType, String => OutputWriter) = _

  /** Files always carry PHYSICAL column names (identity when the table has
    * no column mapping); the commit records the LOGICAL schema, with the
    * mapping merged in by the schema-action choke point. */
  private def writerFactory: CommitLogWriterFactory = {
    val physical = CommitLogIngest.physicalWriteSchema(tableDir, schema)
    if (writers == null || writers._1 != physical) writers =
      (physical, Shim.parquetWriters(CommitLogPlanning.session, physical))
    new CommitLogWriterFactory(dataDir, physical, partitionCols, writers._2)
  }

  override def createBatchWriterFactory(info: PhysicalWriteInfo)
      : DataWriterFactory = writerFactory

  override def createStreamingWriterFactory(info: PhysicalWriteInfo)
      : StreamingDataWriterFactory = writerFactory

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val files = filesOf(messages)
    prologue(files)
    if (overwrite) {
      CommitLogIngest.commitOverwrite(CommitLogPlanning.session, tableDir,
        adds = files, statsCol = statsCol, statsDir = Some(dataDir),
        schemaOf = Some(schema))
    } else if (files.nonEmpty) {
      CommitLogIngest.commitActions(CommitLogPlanning.session, tableDir,
        adds = files, removes = Seq.empty,
        statsCol = statsCol, statsDir = Some(dataDir),
        schemaOf = Some(schema))
    } // empty append: nothing to publish
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit =
    LayoutDirs.deleteQuiet(dataDir)

  /** Exactly-once streaming sink: every epoch is one commit carrying its
    * files AND its ("txn", "queryId:epochId") marker; empty epochs still
    * commit the txn marker (a metadata-only version — readers skip it) so
    * the replay guard stays monotonic across idle triggers. */
  override def commit(epochId: Long, messages: Array[WriterCommitMessage])
      : Unit = {
    val spark = CommitLogPlanning.session
    val files = filesOf(messages)
    prologue(files)
    // the txn replay guard lives INSIDE the claim loop (commitEpoch) so a
    // zombie instance of this query racing us cannot double-commit the
    // epoch — whichever instance wins the version claim, the other sees
    // its txn row and reclaims these files as orphans
    // an empty epoch records no schema: the append check above skipped
    // it, so a narrower stream's idle epoch must not narrow the table
    val committed = CommitLogIngest.commitEpoch(spark, tableDir,
      adds = files,
      statsCol = statsCol.filter(_ => files.nonEmpty),
      statsDir = Some(epochDir(epochId)).filter(_ => files.nonEmpty),
      schemaOf = Some(schema).filter(_ => files.nonEmpty),
      queryId = queryId, epochId = epochId)
    if (!committed) {
      // replayed epoch after a restart (or a lost zombie race): the log
      // already has this epoch's commit — these files are orphans
      LayoutDirs.deleteQuiet(epochDir(epochId))
    } else if (autoCompact.enabled) maybeCompact(spark, epochId, files.size)
  }

  /** Files THIS sink has landed since the last compaction attempt — the
    * O(1) burst trigger (an off-cadence log read + per-file stat every
    * epoch would tax every trigger with O(live files) driver work). */
  private var addedSinceCompact = 0

  /** Post-commit auto-compaction check (see [[AutoCompact]]): trigger on
    * the epoch cadence OR on this sink's own accumulated file count —
    * both O(1); `optimize` itself is the real smalls test (one log read
    * when triggered, a no-op when nothing qualifies). Runs AFTER the
    * epoch committed, so a compaction failure surfaces on the next
    * trigger's replay-guarded retry, never as data loss. */
  private def maybeCompact(spark: org.apache.spark.sql.SparkSession,
      epochId: Long, landed: Int): Unit = {
    addedSinceCompact += landed
    val due = (epochId + 1) % autoCompact.everyEpochs == 0
    if (due || addedSinceCompact >= autoCompact.smallFiles) {
      addedSinceCompact = 0
      CommitLogIngest.optimize(spark, tableDir,
        statsCol = statsCol.orElse(CommitLogIngest.indexedCol(tableDir)),
        maxFileBytes = autoCompact.maxFileBytes)
      ()
    }
  }

  override def abort(epochId: Long, messages: Array[WriterCommitMessage])
      : Unit =
    LayoutDirs.deleteQuiet(epochDir(epochId))

  private def filesOf(messages: Array[WriterCommitMessage]): Seq[String] =
    messages.toSeq.collect {
      case m: CommitLogWriterCommit => m.files
    }.flatten.sorted

  /** What both commits do before they publish `files`. Refusals come
    * first: a refused write must leave no trace, so every check runs
    * before the switches flip or the layout is recorded. */
  private def prologue(files: Seq[String]): Unit = {
    if (overwrite)
      // truncate-to-empty would leave a version with no live files, which
      // the append-only read contract treats as retention loss — refuse
      // loudly rather than brick the table
      require(files.nonEmpty,
        "graft-commitlog: overwrite with an empty dataset is not " +
          "supported (the table would have no live files)")
    else if (files.nonEmpty)
      // an append RECORDS its schema as the table's latest — refuse one
      // that would narrow it (hide established columns) or change a type
      CommitLogIngest.requireAppendCompatible(tableDir, schema)
    // declare the layout with the commit that first uses it (a mismatch
    // with an already-declared layout refuses here, before the switches),
    // then flip the requested switches — at commit, never at planning
    if (partitionCols.nonEmpty && files.nonEmpty)
      CommitLogIngest.recordPartitionCols(tableDir, partitionCols)
    if (enableCdf) CommitLogIngest.setCdfEnabled(tableDir)
    if (enableDv) CommitLogIngest.setDvEnabled(tableDir)
  }
}

/** Both DSv2 writes' executor side: a batch task writes under `dataDir`,
  * a streaming task under its epoch's `e<epochId>` subdir. */
class CommitLogWriterFactory(dataDir: String, schema: StructType,
    partitionCols: Seq[String], parquet: String => OutputWriter)
    extends DataWriterFactory with StreamingDataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long)
      : DataWriter[InternalRow] =
    new CommitLogDataWriter(dataDir, s"part-$partitionId-$taskId", schema,
      partitionCols, parquet)

  override def createWriter(partitionId: Int, taskId: Long, epochId: Long)
      : DataWriter[InternalRow] =
    new CommitLogDataWriter(s"$dataDir/e$epochId",
      s"part-$partitionId-$taskId", schema, partitionCols, parquet)
}

/** InternalRow → Spark's parquet `OutputWriter`: task-unique files,
  * opened LAZILY so an empty partition writes nothing (no zero-row file
  * debris). Speculative / retried attempts are distinguished by the uuid
  * suffix and reclaimed by `abort`.
  *
  * With `partitionCols`, rows route to one file per partition VALUE under
  * hive-style `col=value` dirs (the read side dir-prunes on them), and the
  * partition columns STAY in the file — the path layout is a pruning
  * accelerator, never where the data lives, so every existing reader
  * composes unchanged. */
object CommitLogDataWriter {
  /** Per-task ceiling on simultaneously-open partition-value writers. */
  val MaxOpenWriters = 128
}

class CommitLogDataWriter(dir: String, stem: String, schema: StructType,
    partitionCols: Seq[String], parquet: String => OutputWriter)
    extends DataWriter[InternalRow] {

  private val partIdx: Array[Int] =
    partitionCols.map(schema.fieldIndex).toArray
  private val open =
    scala.collection.mutable.LinkedHashMap.empty[String, OutputWriter]

  private def writerFor(sub: String): OutputWriter =
    open.getOrElseUpdate(sub, {
      // every open writer buffers its own row group: unbounded
      // per-value writers on a high-cardinality partition column is an
      // executor OOM, not a slow path — fail loudly with the remedy
      // (Spark's native dynamic-partition writer avoids this by sorting;
      // a repartition/sort by the partition columns gives each task few
      // simultaneous values)
      require(open.size < CommitLogDataWriter.MaxOpenWriters,
        s"graft-commitlog: task opened ${open.size} partition-value " +
          "writers — the partition column's per-task cardinality is too " +
          "high; repartition (or sortWithinPartitions) by the partition " +
          "columns before writing, or partition by a coarser column")
      parquet(s"$dir$sub/$stem-" +
        s"${java.util.UUID.randomUUID().toString.take(8)}.parquet")
    })

  override def write(row: InternalRow): Unit = {
    val sub =
      if (partIdx.isEmpty) ""
      else {
        val sb = new StringBuilder
        var k = 0
        while (k < partIdx.length) {
          sb.append('/').append(partitionCols(k)).append('=')
            .append(PartitionPaths.render(schema(partIdx(k)).dataType,
              row, partIdx(k)))
          k += 1
        }
        sb.toString
      }
    writerFor(sub).write(row)
  }

  override def commit(): WriterCommitMessage = {
    open.values.foreach(_.close())
    CommitLogWriterCommit(open.values.map(_.path()).toSeq)
  }

  override def abort(): Unit = {
    open.values.foreach { w =>
      try w.close() catch { case _: Exception => }
      val p = Paths.get(w.path())
      Files.deleteIfExists(p)
      // the local file system leaves a .crc sidecar
      Files.deleteIfExists(p.resolveSibling("." + p.getFileName + ".crc"))
    }
  }

  override def close(): Unit = ()
}

/** Hive-style partition path values, shared by the writer (render) and the
  * scan-side dir pruner (parse): `/` `=` `%` and other path-hostile
  * characters are percent-escaped, null renders as the hive default
  * partition name. The string form is the CONTRACT between the two — both
  * sides go through this object. */
object PartitionPaths {

  /** NULL's dir value. Deliberately NOT hive's `__HIVE_DEFAULT_PARTITION__`:
    * `LayoutDirs.dataFiles` treats `_`-prefixed path components as
    * uncommitted bookkeeping (the committer-staging rule), so that name
    * would make null-partition files invisible — data loss. A real string
    * "null" sharing the dir is safe: every pruning constraint treats the
    * dir as "may hold NULLs, never prune what could match" (there is no
    * IsNotNull pruner for exactly this reason). */
  val NullDir = "null"

  /** Percent-escape for path segments; a LEADING `.` or `_` is also
    * encoded (URLEncoder leaves both bare) because `LayoutDirs` skips
    * such components as bookkeeping. Filter-side comparisons escape
    * through the same function, so the contract holds by construction. */
  def escape(s: String): String = {
    val e = java.net.URLEncoder.encode(s, "UTF-8")
    if (e.startsWith(".")) "%2E" + e.substring(1)
    else if (e.startsWith("_")) "%5F" + e.substring(1)
    else e
  }

  /** Render a row's partition value for the path (writer side). */
  def render(dt: DataType,
      row: org.apache.spark.sql.catalyst.expressions.SpecializedGetters,
      ord: Int): String =
    if (row.isNullAt(ord)) NullDir
    else dt match {
      case LongType => row.getLong(ord).toString
      case IntegerType | DateType => row.getInt(ord).toString
      case ShortType => row.getShort(ord).toString
      case ByteType => row.getByte(ord).toString
      case BooleanType => row.getBoolean(ord).toString
      case StringType => escape(row.getUTF8String(ord).toString)
      case other => throw new UnsupportedOperationException(
        s"graft-commitlog: unsupported partition column type $other")
    }

  /** A row-value's path rendering (the driver-side mirror of [[render]],
    * for partition-local rewrites that route by collected values). Date
    * values render as DAYS-SINCE-EPOCH, matching [[render]]'s task-side
    * int — a `Date.toString` ("2024-01-03") here would route rewrites of
    * a date-partitioned table into dirs no write ever used, silently
    * fragmenting the one-layout-forever invariant (round-12 ADVICE). */
  def renderValue(v: Any): String = v match {
    case null => NullDir
    case s: String => escape(s)
    case d: java.sql.Date => d.toLocalDate.toEpochDay.toString
    case d: java.time.LocalDate => d.toEpochDay.toString
    case other => other.toString // Long/Int/Short/Byte/Boolean
  }

  /** The partition-bearing segments of a DATA FILE path: everything below
    * the table's `data` component and above the file name. Segments of
    * the table ROOT are never consulted — a table stored under
    * `/warehouse/day=X/events` must not prune on the root's `day=X`
    * (every data file carries it, so a day filter would wrongly drop
    * them all). */
  private def belowData(path: String): Array[String] = {
    val segs = path.split('/')
    val i = segs.lastIndexOf("data")
    if (i < 0) Array.empty else segs.slice(i + 1, segs.length - 1)
  }

  /** The value a file path carries for partition column `col`, if its
    * below-data path has a `col=value` segment (None = unpartitioned /
    * legacy file). */
  def valueOf(path: String, col: String): Option[String] = {
    val prefix = col + "="
    belowData(path).find(_.startsWith(prefix)).map(_.stripPrefix(prefix))
  }

  /** The `k=v` partition segments of a data file path, joined — the
    * grouping key partition-local DML/OPTIMIZE rewrites cluster by
    * (empty for an unpartitioned file). */
  def segmentsOf(path: String): String =
    belowData(path).filter(_.contains('=')).mkString("/")
}
