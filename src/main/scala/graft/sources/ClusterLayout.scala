package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Q
import graft.model.Tables
import graft.streaming.CommitLogIngest

/** The ANN serving index as a LOG CITIZEN (round-12 verdict task 6 —
  * E-167): an embeddings-backed commit-log table is cell-clustered by
  * `CommitLogIngest.optimizeClusterByCell` (one layout-only commit,
  * trained coarse quantizer, files under `gcell=N` dirs) and then given
  * a post-cluster APPEND, so the registry face exercises exactly the
  * maintained-vector-index lifecycle: cluster → append lands unclustered
  * → probe reads probed cells + remainder → census stays exact.
  *
  * The oracle pins what SQL can see: the snapshot census is UNCHANGED
  * through the rewrite (a layout-only commit moves every byte and must
  * lose none — count/sums hash-match DuckDB over the raw table).
  * `ClusterCommitSpec` pins the layout mechanics the oracle cannot:
  * probe-pruned file sets, quantizer stability, re-run no-op. */
object ClusterLayout {

  private val cache = new LayoutCache[String](LayoutDirs.deleteParent)

  val K = 8

  private[graft] def ensure(spark: SparkSession, sfDir: String): String =
    cache.get(sfDir, "embeddings.parquet") {
      val root = Files.createTempDirectory("graft-cellcluster")
      val table = root.toString + "/table"
      val emb = Tables.embeddings(spark, sfDir)
        .select("vec_id", "embedding", "label")
      // two appends, cluster, then a THIRD append that lands unclustered
      // (the remainder the probe path must always read)
      Seq(0, 1).foreach { g =>
        CommitLogIngest.commitAppend(
          emb.filter(col("vec_id") % 3 === g), table,
          statsCol = Some("vec_id"))
      }
      val (cv, removed, added) = CommitLogIngest.optimizeClusterByCell(
        spark, table, "embedding", K, "vec_id",
        statsCol = Some("vec_id"))
      require(cv == 2L && removed > 0 && added > 0,
        s"cluster rewrite did not commit: v$cv, -$removed +$added")
      CommitLogIngest.commitAppend(
        emb.filter(col("vec_id") % 3 === 2), table,
        statsCol = Some("vec_id"))
      table
    }

  /** Census over the full snapshot — count and integral sums per
    * vec_id band; hash equality against DuckDB over the RAW table proves
    * the clustered rewrite (and the unclustered append beside it) lost
    * and duplicated nothing. */
  def census(spark: SparkSession, sfDir: String): DataFrame = {
    val table = ensure(spark, sfDir)
    CommitLogIngest.snapshot(spark, table)
      .groupBy((col("vec_id") % 16).as("band"))
      .agg(count(lit(1)).as("n_vecs"),
        sum(col("vec_id")).as("sum_vec"),
        sum(size(col("embedding")).cast("long")).as("sum_dims"),
        sum(col("label").cast("long")).as("sum_label"))
  }

  val censusSql: String =
    """SELECT vec_id % 16 AS band, COUNT(*) AS n_vecs,
      |  CAST(SUM(vec_id) AS BIGINT) AS sum_vec,
      |  CAST(SUM(len(embedding)) AS BIGINT) AS sum_dims,
      |  CAST(SUM(label) AS BIGINT) AS sum_label
      |FROM embeddings GROUP BY 1""".stripMargin

  private[graft] def clearCache(): Unit = cache.clear()

  def queries: Map[String, Q] = Map(
    "src_cluster_layout" -> Q(censusSql)(census))
}
