package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Q
import graft.model.Tables
import graft.streaming.CommitLogIngest

/** Schema evolution THROUGH the commit log: a commit whose
  * batch schema differs from the last recorded one carries a
  * ("schema", json) metadata action, and every reader resolves "the schema
  * AS OF version V" from the log (checkpoints carry the latest schema row,
  * so resolution survives retention like the live file set does).
  *
  * The registry face appends documents in two generations, four
  * versions: generation 1 (even doc_id) commits (doc_id, source,
  * n_chars); generation 2 (odd doc_id) adds a `quality` column. The
  * census reads the LATEST snapshot — generation-1 rows must surface `quality` as NULL, generation-2 rows their real
  * values, with the NULL placement exact per generation. The DuckDB
  * oracle replays the generation rule from the original documents, so a
  * reader that dropped the new column, null-filled the wrong generation,
  * or lost a generation's rows hash-mismatches.
  *
  * `CommitSchemaSpec` pins the parts the oracle cannot see: per-version
  * schema resolution (a snapshot pinned before the change reads under the
  * OLD schema), the DSv2 stream delivering across the boundary, and
  * resolution through a checkpoint after the pre-evolution log is
  * retention-pruned.
  *
  * `src_schema_evolution` reads a second table: generation 1 (an md5
  * ~half of `documents`) appended without `n_chars`, generation 2 with it
  * plus a new `quality_v2` (`n_chars / 100`), so generation-1 rows read
  * NULL for both (`SchemaEvolutionSpec`). */
object CommitSchemaEvolution {

  /** Deterministic generation-2 quality: n_chars mod QualityMod. */
  val QualityMod = 97

  private val cache = new LayoutCache[String](LayoutDirs.deleteParent)
  private val mixedCache = new LayoutCache[String](LayoutDirs.deleteParent)

  /** Engine-portable generation rule: gen 2 iff the first md5 nibble of
    * the doc_id string is ≥ 8 (an unbiased ~half split both engines
    * compute identically). NULL-safe: a NULL doc_id hashes as '' — an
    * unguarded md5(NULL) is NULL, which BOTH generation filters reject,
    * silently dropping the row while the oracle's COUNT(*) keeps it. */
  private[graft] val gen2Cond =
    "substring(md5(COALESCE(CAST(doc_id AS STRING), '')), 1, 1) >= '8'"

  /** The two-generation documents table (v0 narrow, v1 evolved). */
  private[graft] def ensureMixed(spark: SparkSession, sfDir: String)
      : String =
    mixedCache.get(sfDir, "documents.parquet") {
      val table =
        Files.createTempDirectory("graft-schema-mixed").toString + "/table"
      val docs = Tables.documents(spark, sfDir)
      CommitLogIngest.commitAppend(docs.filter(not(expr(gen2Cond)))
        .select("doc_id", "text", "lang", "source"), table)
      CommitLogIngest.commitAppend(docs.filter(expr(gen2Cond))
        .select(col("doc_id"), col("text"), col("lang"), col("source"),
          col("n_chars"),
          (col("n_chars").cast("double") / 100).as("quality_v2")), table)
      table
    }

  /** Per-source census across the generation boundary: total docs, how
    * many carry each late column, and null-defaulted aggregates. */
  def evolutionCensus(spark: SparkSession, sfDir: String): DataFrame =
    CommitLogIngest.snapshot(spark, ensureMixed(spark, sfDir))
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        count(col("n_chars")).as("n_gen2"),
        sum(coalesce(col("n_chars"), lit(0L))).as("sum_nchars"),
        round(sum(coalesce(col("quality_v2"), lit(0.0))), 4)
          .as("sum_q2"),
        // AVG ignores NULL in both engines: the late column's mean is
        // correct over the docs that HAVE it, with no gen-1 pollution
        round(avg(col("quality_v2")), 6).as("avg_q2_present"))

  val evolutionCensusSql: String =
    """WITH g AS (
      |  SELECT source, n_chars,
      |    substring(md5(COALESCE(CAST(doc_id AS VARCHAR), '')), 1, 1)
      |      >= '8' AS gen2
      |  FROM documents
      |)
      |SELECT source,
      |  COUNT(*) AS n_docs,
      |  CAST(COUNT(CASE WHEN gen2 THEN n_chars END) AS BIGINT) AS n_gen2,
      |  CAST(SUM(CASE WHEN gen2 THEN n_chars ELSE 0 END) AS BIGINT)
      |    AS sum_nchars,
      |  ROUND(SUM(CASE WHEN gen2 THEN n_chars / 100.0 ELSE 0 END), 4)
      |    AS sum_q2,
      |  ROUND(AVG(CASE WHEN gen2 THEN n_chars / 100.0 END), 6)
      |    AS avg_q2_present
      |FROM g GROUP BY source""".stripMargin

  private[graft] def ensure(spark: SparkSession, sfDir: String): String =
    cache.get(sfDir, "documents.parquet") {
      val root = Files.createTempDirectory("graft-schema-evo")
      val table = root.toString + "/table"
      val docs = Tables.documents(spark, sfDir)
      val gen1 = docs.filter(col("doc_id") % 2 === 0)
        .select(col("doc_id"), col("source"), col("n_chars"))
      val gen2 = docs.filter(col("doc_id") % 2 === 1)
        .select(col("doc_id"), col("source"), col("n_chars"),
          (col("n_chars") % QualityMod).as("quality"))
      // four appends on the fresh table land as versions 0-3: versions
      // 0-1 are generation 1, the schema action rides the generation-2
      // commit at version 2
      Seq(gen1.filter(col("doc_id") % 4 === 0),
        gen1.filter(col("doc_id") % 4 === 2),
        gen2.filter(col("doc_id") % 4 === 1),
        gen2.filter(col("doc_id") % 4 === 3))
        .foreach(CommitLogIngest.commitAppend(_, table))
      table
    }

  /** Census of the LATEST snapshot across the schema boundary: NULL
    * `quality` must land exactly on generation-1 rows. */
  def evolvedCensus(spark: SparkSession, sfDir: String): DataFrame = {
    val table = ensure(spark, sfDir)
    CommitLogIngest.snapshot(spark, table)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("sum_chars"),
        sum(when(col("quality").isNull, 1L).otherwise(0L))
          .as("n_null_quality"),
        sum(col("quality")).as("sum_quality"))
  }

  val evolvedCensusSql: String =
    s"""SELECT source, COUNT(*) AS n_docs,
       |  CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
       |  CAST(SUM(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_null_quality,
       |  CAST(SUM(CASE WHEN doc_id % 2 = 1
       |    THEN n_chars % $QualityMod END) AS BIGINT) AS sum_quality
       |FROM documents GROUP BY source""".stripMargin

  /** Test hook: drop cached layouts (the shared clear contract). */
  private[graft] def clearCache(): Unit = {
    cache.clear()
    mixedCache.clear()
  }

  def queries: Map[String, Q] = Map(
    "src_commit_schema_evo" -> Q(evolvedCensusSql)(evolvedCensus),
    "src_schema_evolution" -> Q(evolutionCensusSql)(evolutionCensus))
}
