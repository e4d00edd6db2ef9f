package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Q
import graft.model.Tables
import graft.operators.Similarity

/** IVF serving layout: the corpus written PARTITIONED BY its trained
  * k-means cell, so a probe-limited ANN read touches only the probed
  * cells' files — the storage half of the IVF story (s_kmeans_cells /
  * s_ivf_trained_topk are the compute half). At 100 TB this is the
  * difference between a serving node reading probes/K of the corpus and
  * reading all of it: partition pruning happens in the driver against
  * directory metadata, before a single vector byte moves.
  *
  * The query reads ONLY cells 0 and 1 through the layout and emits a
  * per-cell content census (count, exact vec_id sum, rounded embedding
  * mass). The oracle recomputes the same census from the ORIGINAL
  * parquet via the shared kmeans training chain, so rows+hash equality
  * proves the partitioned round-trip preserved membership and content.
  * IvfLayoutSpec pins the pruning itself (PartitionFilters on the scan,
  * ≤ 2 of the K partition dirs read). Write is once per source
  * fingerprint through [[LayoutCache]]. */
object IvfLayout {

  // Coupling note: the layout is embeddings JOIN the trained kmeans
  // assignment, so fingerprint-keying THIS cache is only regeneration-
  // safe because Similarity's kmCache re-keys on the SAME fingerprint —
  // a regenerated parquet misses both caches together and the rewrite
  // joins new vectors to a freshly trained model, never to stale cells.
  private val cache = new LayoutCache[String](LayoutDirs.deleteParent)

  private[graft] def ensure(spark: SparkSession, sfDir: String): String =
    cache.get(sfDir, "embeddings.parquet") {
      val dir =
        Files.createTempDirectory("graft-ivf").toString + "/embeddings_ivf"
      Tables.embeddings(spark, sfDir)
        .join(Similarity.kmeansAssignment(spark, sfDir)
          .select(col("vec_id"), col("cell")), Seq("vec_id"))
        .write.mode("overwrite").partitionBy("cell").parquet(dir)
      dir
    }

  def ivfLayoutRead(spark: SparkSession, sfDir: String): DataFrame =
    spark.read.parquet(ensure(spark, sfDir))
      .filter(col("cell").isin(0, 1))
      .groupBy(col("cell").cast("long").as("cell"))
      .agg(count(lit(1)).as("n_vecs"),
        sum(col("vec_id")).as("sum_vec_id"),
        round(sum(expr("aggregate(transform(embedding, " +
          "v -> CAST(v AS DOUBLE)), 0D, (s, v) -> s + v)")), 4)
          .as("emb_mass"))

  val ivfLayoutReadSql: String =
    s"""WITH ${Similarity.kmeansChainSql}
       |SELECT a.cell, COUNT(*) AS n_vecs,
       |  CAST(SUM(a.vec_id) AS BIGINT) AS sum_vec_id,
       |  ROUND(SUM(sx.x), 4) AS emb_mass
       |FROM ${Similarity.kmeansFinalAsgCte} a
       |JOIN (SELECT vec_id, SUM(x) AS x FROM exf GROUP BY vec_id) sx
       |  ON a.vec_id = sx.vec_id
       |WHERE a.cell IN (0, 1)
       |GROUP BY a.cell""".stripMargin

  def queries: Map[String, Q] = Map(
    "src_ivf_layout" -> Q(ivfLayoutReadSql)(ivfLayoutRead))
}
