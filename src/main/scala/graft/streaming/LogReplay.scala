package graft.streaming

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable.ArrayBuffer

import org.apache.hadoop.conf.Configuration
import org.apache.parquet.example.data.Group
import org.apache.parquet.example.data.simple.SimpleGroup
import org.apache.parquet.example.data.simple.convert.GroupRecordConverter
import org.apache.parquet.HadoopReadOptions
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.io.{ColumnIOFactory, LocalInputFile, LocalOutputFile}
import org.apache.parquet.schema.{LogicalTypeAnnotation, MessageType, Types}
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName.{BINARY, INT32, INT64}

import graft.sources.LayoutDirs

/** The commit log's metadata plane, on the driver and free of Spark jobs.
  *
  * ACTION FILES: a version's actions live in `log/version=N` (columns
  * `action`, `path`; the version is the dir name), a checkpoint's in
  * `log_ckpt/c=N` (columns `path`, `v`, `action`). They are read and
  * written here directly with parquet-mr's Group API — the same files
  * Spark's writer produced before, so `history`, `vacuum` and the change
  * feed readers keep reading them through Spark. Every write lands in a
  * dot-prefixed stage dir (invisible to listings) and becomes visible by
  * one atomic rename.
  *
  * REPLAY: a table's state at version V is a fold of its action files —
  * the best checkpoint ≤ V, then every surviving version dir above it
  * (a missing dir there is a never-committed id and is skipped). Per
  * path the last add-vs-remove decides liveness; a `dv` action masks a
  * live file (masks of removed paths drop with them); the latest schema
  * action and each streaming query's highest txn epoch ride along. One
  * memo per table keeps the state at the latest version replayed, so
  * resolving at or above it reads only the version dirs in between —
  * O(new commits) per call, and O(live files) of memory per table.
  * Resolving below it replays from the best checkpoint ≤ V and leaves the
  * memo alone. A memo whose last-read action file is gone (retention, or
  * a table rebuilt under the same path) is dropped and rebuilt; so is
  * one whose advance meets a missing dir at or below a checkpoint (that
  * dir was retention-pruned, and the checkpoint holds what it said). */
private[graft] object LogReplay {

  /** The resolved table state: live paths with the version of their
    * last add, mask versions per live path, the latest schema action
    * (json, version), and per txn id the highest epoch with its action
    * path and version. `version` is the last version folded in. */
  final case class State(version: Long, live: Map[String, Long],
      dvs: Map[String, Vector[Long]], schema: Option[(String, Long)],
      txns: Map[String, (Long, String, Long)]) {

    lazy val liveFiles: Seq[String] = live.keys.toVector.sorted

    lazy val schemaType: Option[org.apache.spark.sql.types.StructType] =
      schema.map(s => org.apache.spark.sql.types.DataType.fromJson(s._1)
        .asInstanceOf[org.apache.spark.sql.types.StructType])

    def lastEpoch(txnId: String): Long =
      txns.get(txnId).map(_._1).getOrElse(-1L)

    /** Fold in the (version, action, path) rows of one version dir or
      * one checkpoint. Adds and removes go first so a mask recorded
      * beside its file's add still attaches. */
    def fold(rows: Seq[(Long, String, String)], upTo: Long): State = {
      var l = live
      var d = dvs
      var s = schema
      var t = txns
      rows.foreach {
        case (v, "add", p) => l = l.updated(p, v)
        case (_, "remove", p) => l -= p; d -= p
        case (v, "schema", json) =>
          if (s.forall(_._2 <= v)) s = Some((json, v))
        case (v, "txn", id) =>
          val i = id.lastIndexOf(':')
          if (i > 0) id.substring(i + 1).toLongOption.foreach { e =>
            val q = id.substring(0, i)
            if (t.get(q).forall(_._1 < e)) t = t.updated(q, (e, id, v))
          }
        case _ => () // dv (below), op, legacy empty tombstones: no state
      }
      rows.foreach {
        case (v, "dv", p) if l.contains(p) =>
          val cur = d.getOrElse(p, Vector.empty)
          if (!cur.contains(v)) d = d.updated(p, (cur :+ v).sorted)
        case _ => ()
      }
      State(upTo, l, d, s, t)
    }

    /** The checkpoint rows that resolve this state. */
    def checkpointRows: Seq[(String, Long, String)] =
      live.toSeq.sortBy(_._1).map { case (p, v) => (p, v, "add") } ++
        schema.map { case (j, v) => (j, v, "schema") } ++
        txns.toSeq.sortBy(_._1).map { case (_, (_, p, v)) =>
          (p, v, "txn") } ++
        dvs.toSeq.sortBy(_._1).flatMap { case (p, vs) =>
          vs.map(v => (p, v, "dv")) }
  }

  private val Empty = State(-1L, Map.empty, Map.empty, None, Map.empty)

  // ---- action files -------------------------------------------------------

  private def str(name: String) =
    Types.optional(BINARY).as(LogicalTypeAnnotation.stringType()).named(name)

  private val ActionSchema: MessageType =
    Types.buildMessage().addField(str("action")).addField(str("path"))
      .named("spark_schema")

  private val CheckpointSchema: MessageType =
    Types.buildMessage().addField(str("path"))
      .addField(Types.optional(INT64).named("v")).addField(str("action"))
      .named("spark_schema")

  /** One Hadoop conf for every read and write: building one per file
    * re-parses the default resources, which costs more than the file. */
  private lazy val conf = new Configuration()
  private lazy val readOptions = HadoopReadOptions.builder(conf).build()

  /** Every row of one parquet file, as Groups. */
  private def readFile(f: String): Seq[Group] = {
    val r = ParquetFileReader.open(new LocalInputFile(Paths.get(f)),
      readOptions)
    try {
      val schema = r.getFooter.getFileMetaData.getSchema
      val io = new ColumnIOFactory().getColumnIO(schema)
      val out = ArrayBuffer.empty[Group]
      var pages = r.readNextRowGroup()
      while (pages != null) {
        val rr = io.getRecordReader(pages, new GroupRecordConverter(schema))
        var i = 0L
        while (i < pages.getRowCount) { out += rr.read(); i += 1 }
        pages = r.readNextRowGroup()
      }
      out.toSeq
    } finally r.close()
  }

  private def strOf(g: Group, f: String): Option[String] =
    if (!g.getType.containsField(f) || g.getFieldRepetitionCount(f) == 0)
      None
    else Some(g.getString(f, 0))

  private def longOf(g: Group, f: String): Long =
    g.getType.getType(f).asPrimitiveType.getPrimitiveTypeName match {
      case INT32 => g.getInteger(f, 0).toLong
      case INT64 => g.getLong(f, 0)
      case other => throw new IllegalStateException(
        s"commit-log checkpoint column $f has unexpected type $other")
    }

  private def versionDir(tableDir: String, v: Long) =
    s"$tableDir/log/version=$v"

  private def checkpointDir(tableDir: String, c: Long) =
    s"$tableDir/log_ckpt/c=$c"

  /** The committed action files of version `v` (empty when the dir is
    * missing or holds no committed parquet). */
  private def versionFiles(tableDir: String, v: Long): Seq[String] = {
    val d = versionDir(tableDir, v)
    if (!Files.isDirectory(Paths.get(d))) Seq.empty
    else LayoutDirs.dataFiles(d)
  }

  /** The (action, path) rows of version `v` (empty when its dir is
    * missing). */
  def versionActions(tableDir: String, v: Long): Seq[(String, String)] =
    readVersion(versionFiles(tableDir, v))

  private def readVersion(files: Seq[String]): Seq[(String, String)] =
    files.flatMap(readFile).map(g =>
      (strOf(g, "action").orNull, strOf(g, "path").orNull))

  /** A checkpoint's rows as (version, action, path). Checkpoints written
    * before the action column existed are all adds. */
  private def readCheckpoint(tableDir: String, c: Long)
      : (Seq[(Long, String, String)], Seq[String]) = {
    val files = LayoutDirs.dataFiles(checkpointDir(tableDir, c))
    (files.flatMap(readFile).map(g =>
      (longOf(g, "v"), strOf(g, "action").getOrElse("add"),
        strOf(g, "path").orNull)), files)
  }

  /** The add paths of checkpoint `c` (the live set it captured). */
  def checkpointAdds(tableDir: String, c: Long): Seq[String] =
    readCheckpoint(tableDir, c)._1.collect { case (_, "add", p) => p }

  /** Checkpoint versions present on disk (`log_ckpt/c=N` with committed
    * data), ascending — time travel below the latest checkpoint needs the
    * older ones. */
  def checkpoints(tableDir: String): Seq[Long] = {
    val d = Paths.get(s"$tableDir/log_ckpt")
    if (!Files.exists(d)) return Seq.empty
    val s = Files.list(d)
    try {
      import scala.jdk.CollectionConverters._
      s.iterator().asScala.map(_.getFileName.toString)
        .collect { case n if n.startsWith("c=") =>
          n.stripPrefix("c=").toLong }
        .filter(c => LayoutDirs.hasParquetData(checkpointDir(tableDir, c)))
        .toSeq.sorted
    } finally s.close()
  }

  /** Write `rows` as one parquet file into a fresh `dir/.stage-<id>`
    * and return that stage (the caller renames it into place). */
  private def stageFile(dir: Path, schema: MessageType,
      rows: Seq[SimpleGroup => Unit]): Path = {
    val stage = dir.resolve(
      s".stage-${java.util.UUID.randomUUID().toString.take(12)}")
    Files.createDirectories(stage)
    val f = stage.resolve(
      s"part-00000-${java.util.UUID.randomUUID()}-c000.snappy.parquet")
    val w = ExampleParquetWriter.builder(new LocalOutputFile(f))
      .withType(schema).withConf(conf)
      .withCompressionCodec(CompressionCodecName.SNAPPY)
      .build()
    try rows.foreach { fill =>
      val g = new SimpleGroup(schema)
      fill(g)
      w.write(g)
    } finally w.close()
    stage
  }

  /** Stage a version's (action, path) rows under `log/.stage-<id>` —
    * invisible until a claim renames it to `log/version=N`. */
  def stageVersion(tableDir: String, rows: Seq[(String, String)]): Path =
    stageFile(Paths.get(tableDir, "log"), ActionSchema,
      rows.map { case (a, p) =>
        (g: SimpleGroup) => g.append("action", a).append("path", p); () })

  /** Persist the state at `upTo` as `log_ckpt/c=<upTo>`. A checkpoint
    * already on disk is complete (it appeared by rename) and is a
    * function of the log, so a crash-replay keeps it as it is. */
  def writeCheckpoint(tableDir: String, upTo: Long): Unit = {
    val target = Paths.get(checkpointDir(tableDir, upTo))
    if (LayoutDirs.hasParquetData(target.toString)) return
    val stage = stageFile(target.getParent, CheckpointSchema,
      resolve(tableDir, upTo).checkpointRows.map { case (p, v, a) =>
        (g: SimpleGroup) => g.append("path", p).append("v", v)
          .append("action", a); () })
    LayoutDirs.deleteQuiet(target.toString)
    try Files.move(stage, target,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    catch {
      // another process landed the same checkpoint first
      case _: java.nio.file.FileSystemException
          if LayoutDirs.hasParquetData(target.toString) =>
        LayoutDirs.deleteQuiet(stage.toString)
    }
  }

  // ---- replay -------------------------------------------------------------

  /** A table's memo: its state at the latest version replayed, and the
    * last action file that replay read (gone ⇒ the memo is stale). */
  private final case class Memo(state: State, witness: Option[String])

  private val memos =
    scala.collection.concurrent.TrieMap.empty[String, Memo]
  private val locks =
    scala.collection.concurrent.TrieMap.empty[String, Object]

  /** Cap on memoized tables — a long session touches many temp tables;
    * past it the memos simply rebuild. */
  private val MaxTables = 1024

  /** The table state at `version` (its `version` field is the last
    * version dir at or below `version` that exists). */
  def resolve(tableDir: String, version: Long): State =
    locks.getOrElseUpdate(tableDir, new Object).synchronized {
      val memo = memos.get(tableDir)
        .filter(_.witness.forall(w => Files.exists(Paths.get(w))))
      lazy val ckpt = checkpoints(tableDir).filter(_ <= version).lastOption
      val next = memo.filter(_.state.version <= version)
        .flatMap(m => foldTail(tableDir, m, version, ckpt))
        .getOrElse(replay(tableDir, version))
      if (memo.forall(_.state.version < next.state.version)) {
        if (memos.size > MaxTables) memos.clear()
        memos.put(tableDir, next)
      }
      next.state
    }

  /** Fold the version dirs in (from, version] onto `from`. A missing dir
    * is a never-committed id and is skipped — unless it lies at or below
    * checkpoint `ckpt`, where it was retention-pruned and only a replay
    * from that checkpoint is correct (None). */
  private def foldTail(tableDir: String, from: Memo, version: Long,
      ckpt: => Option[Long]): Option[Memo] = {
    var m = from
    var v = from.state.version + 1
    while (v <= version) {
      val files = versionFiles(tableDir, v)
      if (files.nonEmpty)
        m = Memo(m.state.fold(readVersion(files).map { case (a, p) =>
          (v, a, p) }, v), files.lastOption)
      else if (ckpt.exists(v <= _)) return None
      v += 1
    }
    Some(m)
  }

  /** Resolve from scratch: the best checkpoint ≤ version, then every
    * surviving version dir above it. */
  private def replay(tableDir: String, version: Long): Memo = {
    val base = checkpoints(tableDir).filter(_ <= version).lastOption match {
      case Some(c) =>
        val (rows, files) = readCheckpoint(tableDir, c)
        Memo(Empty.fold(rows, c), files.lastOption)
      case None => Memo(Empty, None)
    }
    foldTail(tableDir, base, version, None).get
  }
}
