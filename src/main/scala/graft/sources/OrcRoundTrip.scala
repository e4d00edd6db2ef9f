package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Q
import graft.model.Tables

/** ORC source/sink round-trip proof — the second columnar format next to
  * parquet (and the JSONL round-trip in ParsedRequests): documents write
  * once to ORC and every downstream read comes from the ORC copy. The
  * oracle runs on the ORIGINAL parquet, so rows+hash equality proves the
  * format round-trip preserved every byte the query can see (an md5-prefix
  * checksum over `text` pins content, not just counts). Same scale posture
  * as parquet: columnar scan with pushdown/pruning; the write is paid once
  * per source fingerprint ([[LayoutCache]]). */
object OrcRoundTrip {

  /** Keyed on a fingerprint of the source parquet (file names, sizes,
    * mtimes): a regenerated parquet under a cached dir evicts the stale
    * ORC copy (deleting it) and re-copies. */
  private val cache = new LayoutCache[String](LayoutDirs.deleteParent)

  private def ensure(spark: SparkSession, sfDir: String): String =
    cache.get(sfDir, "documents.parquet") {
      val dir = Files.createTempDirectory("graft-orc").toString + "/documents"
      Tables.documents(spark, sfDir)
        .select(col("doc_id"), col("source"), col("lang"), col("text"))
        .write.mode("overwrite").orc(dir)
      dir
    }

  def orcRoundTrip(spark: SparkSession, sfDir: String): DataFrame =
    spark.read.orc(ensure(spark, sfDir))
      .groupBy(col("source"), col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(length(col("text"))).cast("long").as("sum_chars"),
        sum(conv(substring(md5(col("text")), 1, 8), 16, 10).cast("long"))
          .cast("long").as("text_checksum"))

  val orcRoundTripSql: String =
    """SELECT source, lang, COUNT(*) AS n_docs,
      |  CAST(SUM(LENGTH(text)) AS BIGINT) AS sum_chars,
      |  CAST(SUM(('0x' || substr(md5(text), 1, 8))::BIGINT) AS BIGINT)
      |    AS text_checksum
      |FROM documents GROUP BY source, lang""".stripMargin

  def queries: Map[String, Q] = Map(
    "src_orc_roundtrip" -> Q(orcRoundTripSql)(orcRoundTrip))
}
