package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Q
import graft.model.Tables
import graft.streaming.CommitLogIngest

/** BLOOM-FILTER point lookups through the commit log (E-177, the Delta
  * bloom-index shape). The layout is built to DEFEAT min/max skipping on
  * purpose: three DSv2 appends take `doc_id % 3` residue classes, so the
  * three files' [min,max] ranges nearly coincide while their key SETS
  * are disjoint — the interleaved-id layout every real ingest produces
  * once ids stop arriving sorted. A point probe then has exactly one
  * pruning lever left: the per-file Bloom sketch the commit-time index
  * stores with each file's stats row (`BloomAgg`, built in the same
  * one-pass aggregation as min/max/nullCounts).
  *
  * The oracle probes the smallest and largest doc_id through the V2
  * reader's pushed IN filter and censuses the matched rows; DuckDB
  * replays the same probe on the ORIGINAL parquet. Hash equality proves
  * the sketch-pruned read loses and invents nothing; the in-query gate
  * proves the PRUNE happened (fewer files opened than live — this query
  * must never silently degrade to open-everything). `BloomIndexSpec`
  * pins the file-level behavior the oracle cannot see: exact open
  * counts, zero files for absent keys, legacy sketchless rows kept,
  * sketch refresh under CoW DML, and the streaming read's prune. */
object BloomPointLookup {

  private val cache = new LayoutCache[String](LayoutDirs.deleteParent)

  private[graft] def ensure(spark: SparkSession, sfDir: String): String =
    cache.get(sfDir, "documents.parquet") {
      val root = Files.createTempDirectory("graft-bloompoint")
      val table = root.toString + "/table"
      val docs = Tables.documents(spark, sfDir)
        .select("doc_id", "source", "n_chars")
      (0 until 3).foreach { j =>
        docs.filter(col("doc_id") % 3 === j)
          .coalesce(1)
          .write.format("graft-commitlog")
          .option("path", table)
          .option("statsCol", "doc_id")
          .mode("append").save()
      }
      table
    }

  /** Census of the extreme doc_ids through the sketch-pruned V2 read. */
  def pointCensus(spark: SparkSession, sfDir: String): DataFrame = {
    val table = ensure(spark, sfDir)
    val b = Tables.documents(spark, sfDir)
      .agg(min(col("doc_id")), max(col("doc_id")), count(lit(1))).head()
    val keys = Seq(b.getLong(0), b.getLong(1)).distinct
    val nDocs = b.getLong(2)
    val probe = spark.read.format("graft-commitlog")
      .option("path", table).load()
      .filter(col("doc_id").isin(keys: _*))
    // the oracle must grade the PRUNED read, not a silent degradation to
    // open-everything: count files the probe actually opens vs live
    CommitLogReadTracker.enable()
    val n = probe.count()
    val openedFiles = CommitLogReadTracker.drain().distinct.size
    CommitLogReadTracker.disable()
    val live = CommitLogIngest.liveState(spark, table,
      CommitLogIngest.latestVersion(table))._1.size
    // the strict fewer-files-than-live gate holds only while each file's
    // key count fits the sketch's sizing — beyond DefaultExpectedItems
    // per file the fpp inflates by design (no false negatives, results
    // stay exact) and a lucky false positive could open every file, so
    // an over-capacity corpus grades VALUES only
    val sketchSized = nDocs / 3 <=
      org.apache.spark.sql.graft.BloomAgg.DefaultExpectedItems
    require(n == keys.size && live >= 3 &&
        (!sketchSized || openedFiles < live),
      s"src_bloom_point no longer sketch-prunes: opened $openedFiles of " +
        s"$live live files for ${keys.size} point keys ($n rows)")
    probe.select(col("doc_id"), col("source"),
      col("n_chars").cast("long").as("n_chars"))
  }

  val pointCensusSql: String =
    """SELECT doc_id, source, CAST(n_chars AS BIGINT) AS n_chars
      |FROM documents
      |WHERE doc_id IN (SELECT MIN(doc_id) FROM documents
      |                 UNION SELECT MAX(doc_id) FROM documents)"""
      .stripMargin

  /** Test hook: drop cached layouts (the shared clear contract). */
  private[graft] def clearCache(): Unit = cache.clear()

  def queries: Map[String, Q] = Map(
    "src_bloom_point" -> Q(pointCensusSql)(pointCensus))
}
