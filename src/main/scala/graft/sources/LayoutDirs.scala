package graft.sources

import java.nio.file.{Files, Path, Paths}
import java.util.Comparator

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.{concat, lit, raise_error, regexp_replace, url_decode, when}

/** Shared filesystem helpers for the fingerprinted layouts (every
  * [[LayoutCache]] user, BucketedTables, CommitLogIngest) — one copy of
  * the semantics every layout needs. */
object LayoutDirs {

  /** Best-effort recursive delete (stale-layout eviction and shutdown
    * cleanup — failure to delete must never fail the query path). A walk
    * racing a concurrent cleaner throws before deleting anything, so a
    * failed pass gets a second one. */
  def deleteQuiet(dir: String): Unit =
    for (_ <- 0 until 2 if Files.exists(Paths.get(dir)))
      try {
        Files.walk(Paths.get(dir)).sorted(Comparator.reverseOrder())
          .forEach(p => Files.deleteIfExists(p))
      } catch { case _: Exception => () }

  /** [[deleteQuiet]] of `path`'s parent: the temp root a cached table or
    * layout dir was created under (the [[LayoutCache]] cleanup). */
  def deleteParent(path: String): Unit =
    deleteQuiet(Paths.get(path).getParent.toString)

  /** A COMMITTED parquet data file under `root`: every path component
    * below the root must be non-bookkeeping (no `_`/`.` prefix on any
    * level, not just the leaf). The per-component check is what makes
    * "data present" mean "write committed": the committer stages
    * `part-*.parquet` files under `_temporary/` with ordinary leaf
    * names, and a leaf-only filter would count a write that is still in
    * flight — the visibility race behind a half-committed log version. */
  private def isDataFile(root: Path, p: Path): Boolean = {
    import scala.jdk.CollectionConverters._
    Files.isRegularFile(p) &&
      p.getFileName.toString.endsWith(".parquet") &&
      root.relativize(p).iterator().asScala.forall { c =>
        val n = c.toString
        !n.startsWith("_") && !n.startsWith(".")
      }
  }

  /** Whether `dir` holds at least one COMMITTED parquet data file (what
    * a parquet read would load — staging files under `_temporary` and
    * `_`/`.`-prefixed bookkeeping don't count, at any depth). A dir that
    * exists but has no committed data must be treated as "no layout":
    * reading it throws UNABLE_TO_INFER_SCHEMA. */
  def hasParquetData(dir: String): Boolean =
    try {
      val root = Paths.get(dir)
      Files.exists(root) && {
        val s = Files.walk(root)
        try s.anyMatch { p: Path => isDataFile(root, p) }
        finally s.close()
      }
    } catch { case _: Exception => false }

  /** The committed parquet data files under `dir`, sorted — the path
    * set a commit's add-actions enumerate. */
  def dataFiles(dir: String): Seq[String] = {
    val root = Paths.get(dir)
    val s = Files.walk(root)
    try {
      import scala.jdk.CollectionConverters._
      s.iterator().asScala.filter(p => isDataFile(root, p))
        .map(_.toString).toList.sorted
    } finally s.close()
  }

  /** `input_file_name()`'s file:-URI → the plain absolute path the nio
    * helpers and log/index tables use (expression-side). The URI form is
    * PERCENT-ENCODED (a space in a dir name arrives as %20, which would
    * never string-match the literal nio path the log's add-actions
    * carry), so decode after stripping the scheme — with '+' escaped
    * first, because url_decode is form-encoding and would turn a literal
    * '+' in a path into a space.
    *
    * Any NON-local scheme (hdfs:, s3a:, …) fails loudly instead of
    * passing through percent-encoded: the log/index add-actions are
    * nio-walked LOCAL paths, so a remote URI can never string-match them
    * and would silently empty every `isin()` prune downstream — the
    * fingerprinted layouts are local-filesystem-only by construction. */
  /** JVM-side twin of [[plainPath]] for path OPTIONS: the session catalog
    * stores a table location as a file: URI and hands it back as the
    * provider's `path`, which the nio-based log helpers would treat as a
    * literal relative path. Same rules: strip the local scheme and
    * percent-decode ('+' preserved); any non-local scheme fails loudly. */
  def localPath(s: String): String =
    if (s.startsWith("file:"))
      java.net.URLDecoder.decode(
        s.replaceFirst("^file:(//)?", "").replace("+", "%2B"), "UTF-8")
    else if (s.matches("^[a-zA-Z][a-zA-Z0-9+.-]*://.*"))
      throw new IllegalArgumentException(
        "graft-commitlog is local-filesystem-only (nio-walked log/index " +
          s"paths): $s")
    else s

  def plainPath(c: Column): Column =
    when(c.startsWith(lit("file:")),
      url_decode(regexp_replace(
        regexp_replace(c, "^file:(//)?", ""), "\\+", "%2B")))
      .when(c.rlike("^[a-zA-Z][a-zA-Z0-9+.-]*://"),
        raise_error(concat(
          lit("plainPath: non-local URI cannot match the nio-walked " +
            "log/index paths (local-filesystem-only layouts): "), c)))
      .otherwise(c)
}

/** sfDir-keyed, source-fingerprinted layout cache — ONE copy of the
  * ensure/evict/shutdown/clear scaffolding every registry face that
  * builds a table or layout uses (the commit-log faces, IvfLayout,
  * OrcRoundTrip; BucketedTables alone keys on two files): a cached
  * layout is valid while
  * the source parquet's fingerprint is unchanged, a stale one is evicted
  * and rebuilt, and a SINGLE JVM shutdown hook (registered on first use,
  * never per rebuild — the round-9 hook-accumulation lesson)
  * reclaims whatever is cached at exit. `cleanup` receives the cached
  * value; builds are serialized by the cache's lock (the faces build
  * once per SF per session). */
final class LayoutCache[V](cleanup: V => Unit) {
  private val created =
    scala.collection.concurrent.TrieMap.empty[String, (String, V)]

  private lazy val hook: Unit = {
    Runtime.getRuntime.addShutdownHook(new Thread(() =>
      created.values.foreach { case (_, v) => cleanup(v) }))
    ()
  }

  /** The cached layout for `sfDir` while `fpFile`'s fingerprint holds;
    * otherwise evict, rebuild, cache. */
  def get(sfDir: String, fpFile: String)(build: => V): V =
    created.synchronized {
      val fp = SourceFingerprint.key(sfDir, fpFile)
      created.get(sfDir) match {
        case Some((`fp`, v)) => v
        case stale =>
          stale.foreach { case (_, v) =>
            cleanup(v)
            created.remove(sfDir)
          }
          hook
          val v = build
          created.put(sfDir, (fp, v))
          v
      }
    }

  /** Test hook: drop cached layouts (the shared clear contract). */
  def clear(): Unit = created.synchronized {
    created.values.foreach { case (_, v) => cleanup(v) }
    created.clear()
  }
}
