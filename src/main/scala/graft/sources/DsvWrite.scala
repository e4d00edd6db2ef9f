package graft.sources

import java.nio.file.Files
import scala.collection.concurrent.TrieMap

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Q
import graft.model.Tables

/** Registry face of the DataSource V2 WRITE path (`CommitLogWrite`): the
  * documents table driven through the STANDARD writer surface —
  * `df.write.format("graft-commitlog")` appends (each an atomic log
  * version through the optimistic multi-writer claim) — then read back
  * through the standard reader surface (`spark.read.format`, the V2 batch
  * scan with column pruning: the census projects 3 of the table's 5
  * columns, so the text column's pages are never decoded). Hash-equality
  * of the census with the DuckDB oracle over the ORIGINAL parquet proves
  * the writer's parquet encoding, the log's version isolation, and the
  * reader's decode are jointly lossless.
  *
  * `CommitLogWriteSpec` pins what the oracle cannot see: per-type
  * roundtrips, truncate vs time travel, the streaming sink's exactly-once
  * txn guard, and replay-orphan reclamation.
  *
  * 100-TB shape: data bytes move once, executor-local, one task-unique
  * file per partition; the commit serialization point is a single
  * metadata rename (O(files) actions, never O(rows)), so writer
  * parallelism scales with partitions while commit cost stays flat. */
object DsvWrite {

  val Appends = 3

  private val cache = new LayoutCache[String](LayoutDirs.deleteParent)

  private[graft] def ensure(spark: SparkSession, sfDir: String): String =
    cache.get(sfDir, "documents.parquet") {
      val root = Files.createTempDirectory("graft-dsvwrite")
      val table = root.toString + "/table"
      val docs = Tables.documents(spark, sfDir)
      // several appends — each one atomic version via df.write
      (0 until Appends).foreach { i =>
        docs.filter(col("doc_id") % Appends === i)
          .write.format("graft-commitlog")
          .option("path", table).option("statsCol", "doc_id")
          .mode("append").save()
      }
      table
    }

  /** Census of the written table, read back through the V2 scan (pruned
    * to 3 columns) — hash-equal to the oracle over the original parquet. */
  def writtenCensus(spark: SparkSession, sfDir: String): DataFrame = {
    val table = ensure(spark, sfDir)
    spark.read.format("graft-commitlog").option("path", table).load()
      .select("source", "doc_id", "n_chars")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("sum_chars"),
        min(col("doc_id")).as("min_doc"),
        max(col("doc_id")).as("max_doc"))
  }

  val writtenCensusSql: String =
    """SELECT source, COUNT(*) AS n_docs,
      |  CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
      |  MIN(doc_id) AS min_doc, MAX(doc_id) AS max_doc
      |FROM documents GROUP BY source""".stripMargin

  /** Test hook: drop cached layouts (the shared clear contract). */
  private[graft] def clearCache(): Unit = cache.clear()

  def queries: Map[String, Q] = Map(
    "src_dsv2_write" -> Q(writtenCensusSql)(writtenCensus))
}
