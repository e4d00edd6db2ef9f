package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Q
import graft.model.Tables
import graft.streaming.CommitLogIngest

/** DML through the commit log — the copy-on-write DELETE/UPDATE face
  * (`CommitLogIngest.deleteWhere`/`updateWhere`): each mutation rewrites
  * ONLY the files containing matching rows and lands as one atomic log
  * version, composing with everything the log already gives (time travel
  * to the pre-mutation state, OCC against concurrent writers, vacuum,
  * the commit-time stats index).
  *
  * The registry face builds a documents-backed table (three DSv2-writer
  * appends → versions 0-2), DELETEs `doc_id % 7 = 3` (version 3), then
  * UPDATEs `n_chars += 1000 WHERE doc_id % 5 = 0` (version 4). Two oracles
  * pin two snapshots of the SAME table: `src_delete_commit` time-travels
  * to version 3 (delete applied, update not yet — proving the update's
  * rewrite did not leak backward), `src_update_commit` reads the latest
  * (both applied). DuckDB computes both from the original parquet with
  * WHERE / CASE. `CommitDmlSpec` pins what the oracles cannot see:
  * untouched files do not move, only matching files were rewritten, and
  * concurrent appends survive a racing delete.
  *
  * 100-TB shape: affected-file discovery is one pushed-predicate scan
  * (row-group stats skip clean files), the rewrite reads only those
  * files, and the commit is one metadata rename — a selective delete
  * costs O(matching data), never O(table). */
object DmlCommit {

  val Appends = 3

  private val cache =
    new LayoutCache[(String, Long)](t => LayoutDirs.deleteParent(t._1))

  private[graft] def ensure(spark: SparkSession, sfDir: String)
      : (String, Long) =
    cache.get(sfDir, "documents.parquet") {
      val root = Files.createTempDirectory("graft-dml")
      val table = root.toString + "/table"
      val docs = Tables.documents(spark, sfDir)
      (0 until Appends).foreach { i =>
        docs.filter(col("doc_id") % Appends === i)
          .write.format("graft-commitlog")
          .option("path", table).option("statsCol", "doc_id")
          // CDF is per-table opt-in (default off — the 100-TB rule: DML
          // must not pay for change storage nobody asked for); this
          // table feeds src_cdc_feed/src_cdf_read, so it opts in
          .option("enableCdf", "true")
          .mode("append").save()
      }
      val (delV, nDel) = CommitLogIngest.deleteWhere(spark, table,
        col("doc_id") % 7 === 3, statsCol = Some("doc_id"))
      require(delV == Appends.toLong && nDel > 0,
        s"delete did not commit: version $delV, $nDel files")
      val (updV, nUpd) = CommitLogIngest.updateWhere(spark, table,
        col("doc_id") % 5 === 0,
        // lit(1000) (int) keeps the column's own type at EVERY testdata
        // generation (sf10 ships n_chars as int32; + 1000L would widen
        // the rewrite, which updateWhere refuses)
        Map("n_chars" -> (col("n_chars") + lit(1000))),
        statsCol = Some("doc_id"))
      require(updV == delV + 1 && nUpd > 0,
        s"update did not commit: version $updV, $nUpd files")
      (table, delV)
    }

  private def census(df: DataFrame): DataFrame =
    df.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("sum_chars"),
        min(col("doc_id")).as("min_doc"),
        max(col("doc_id")).as("max_doc"))

  /** The table AS OF the delete commit (update not yet applied) — time
    * travel through the V2 reader proves the later update's rewrite did
    * not disturb the pinned version. */
  def deletedCensus(spark: SparkSession, sfDir: String): DataFrame = {
    val (table, delV) = ensure(spark, sfDir)
    census(spark.read.format("graft-commitlog").option("path", table)
      .option("versionAsOf", delV.toString).load()
      .select("source", "doc_id", "n_chars"))
  }

  val deletedCensusSql: String =
    """SELECT source, COUNT(*) AS n_docs,
      |  CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
      |  MIN(doc_id) AS min_doc, MAX(doc_id) AS max_doc
      |FROM documents WHERE doc_id % 7 <> 3 GROUP BY source""".stripMargin

  /** The latest snapshot: delete AND update applied. */
  def updatedCensus(spark: SparkSession, sfDir: String): DataFrame = {
    val (table, _) = ensure(spark, sfDir)
    census(CommitLogIngest.snapshot(spark, table)
      .select("source", "doc_id", "n_chars"))
  }

  // -- MERGE face: its own table (the delete/update table must stay
  //    pinned at version 4 for the two oracles above) -----------------------

  private val mergedCache = new LayoutCache[String](LayoutDirs.deleteParent)

  private[graft] def ensureMerged(spark: SparkSession, sfDir: String)
      : String =
    mergedCache.get(sfDir, "documents.parquet") {
      val root = Files.createTempDirectory("graft-merge")
      val table = root.toString + "/table"
      val docs = Tables.documents(spark, sfDir)
        .select("doc_id", "source", "n_chars")
      (0 until 2).foreach { i =>
        docs.filter(col("doc_id") % 2 === i)
          .write.format("graft-commitlog")
          .option("path", table).option("statsCol", "doc_id")
          .mode("append").save()
      }
      // upsert: doc_id % 11 = 5 gets n_chars + 5000 (update-matched);
      // doc_id % 13 = 1 re-lands shifted +10M (insert-unmatched)
      val upd = docs.filter(col("doc_id") % 11 === 5)
        .withColumn("n_chars", col("n_chars") + lit(5000)) // type-preserving
      val ins = docs.filter(col("doc_id") % 13 === 1)
        .withColumn("doc_id", col("doc_id") + 10000000L)
      val (v, n) = CommitLogIngest.mergeByKey(spark, table,
        upd.unionByName(ins), "doc_id", statsCol = Some("doc_id"))
      require(v == 2L && n > 0, s"merge did not commit: v$v, $n files")
      table
    }

  /** Census after the upsert — DuckDB rebuilds the merged state from the
    * original parquet with anti-join + union. */
  def mergedCensus(spark: SparkSession, sfDir: String): DataFrame = {
    val table = ensureMerged(spark, sfDir)
    census(CommitLogIngest.snapshot(spark, table))
  }

  val mergedCensusSql: String =
    """WITH merged AS (
      |  SELECT doc_id, source, n_chars FROM documents
      |  WHERE doc_id % 11 <> 5
      |  UNION ALL
      |  SELECT doc_id, source, n_chars + 5000 FROM documents
      |  WHERE doc_id % 11 = 5
      |  UNION ALL
      |  SELECT doc_id + 10000000, source, n_chars FROM documents
      |  WHERE doc_id % 13 = 1)
      |SELECT source, COUNT(*) AS n_docs,
      |  CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
      |  MIN(doc_id) AS min_doc, MAX(doc_id) AS max_doc
      |FROM merged GROUP BY source""".stripMargin

  val updatedCensusSql: String =
    """SELECT source, COUNT(*) AS n_docs,
      |  CAST(SUM(CASE WHEN doc_id % 5 = 0 THEN n_chars + 1000
      |                ELSE n_chars END) AS BIGINT) AS sum_chars,
      |  MIN(doc_id) AS min_doc, MAX(doc_id) AS max_doc
      |FROM documents WHERE doc_id % 7 <> 3 GROUP BY source""".stripMargin

  /** Change-data-feed census over the DML range (delete commit, update
    * commit]: the delete version contributes the removed docs as
    * "delete"; the update version contributes every touched row as an
    * update_preimage/update_postimage PAIR (the Delta CDC contract —
    * round 12; the keyless delete+insert representation survives only in
    * the read-time-diff fallback for tables without stored CDF). DuckDB
    * replays all three legs from the original parquet — hash equality
    * proves the stored change rows are exactly the rows each commit
    * changed, with the tags the CDC contract demands. */
  def cdcCensus(spark: SparkSession, sfDir: String): DataFrame = {
    val (table, delV) = ensure(spark, sfDir)
    CommitLogIngest.changeFeed(spark, table, delV - 1, delV + 1)
      .groupBy(col("_commit_version"), col("_change_type"), col("source"))
      .agg(count(lit(1)).as("n"),
        sum(col("n_chars")).as("sum_chars"),
        min(col("doc_id")).as("min_doc"),
        max(col("doc_id")).as("max_doc"))
  }

  val cdcCensusSql: String =
    """WITH feed AS (
      |  SELECT CAST(3 AS BIGINT) AS _commit_version,
      |    'delete' AS _change_type, source, n_chars, doc_id
      |  FROM documents WHERE doc_id % 7 = 3
      |  UNION ALL
      |  SELECT CAST(4 AS BIGINT), 'update_preimage', source, n_chars, doc_id
      |  FROM documents WHERE doc_id % 7 <> 3 AND doc_id % 5 = 0
      |  UNION ALL
      |  SELECT CAST(4 AS BIGINT), 'update_postimage', source,
      |    n_chars + 1000, doc_id
      |  FROM documents WHERE doc_id % 7 <> 3 AND doc_id % 5 = 0)
      |SELECT _commit_version, _change_type, source, COUNT(*) AS n,
      |  CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
      |  MIN(doc_id) AS min_doc, MAX(doc_id) AS max_doc
      |FROM feed GROUP BY 1, 2, 3""".stripMargin

  /** The same change-feed census through the V2 READ surface (E-141,
    * round 11): `.option("readChangeFeed", "true")` with an inclusive
    * version range — identical rows to the API (both read the commit-time
    * stored change data), proven against the same DuckDB replay. */
  def cdfReadCensus(spark: SparkSession, sfDir: String): DataFrame = {
    val (table, delV) = ensure(spark, sfDir)
    spark.read.format("graft-commitlog").option("path", table)
      .option("readChangeFeed", "true")
      .option("startingVersion", delV.toString)
      .option("endingVersion", (delV + 1).toString)
      .load()
      .groupBy(col("_commit_version"), col("_change_type"), col("source"))
      .agg(count(lit(1)).as("n"),
        sum(col("n_chars")).as("sum_chars"),
        min(col("doc_id")).as("min_doc"),
        max(col("doc_id")).as("max_doc"))
  }

  // -- deletion-vector face: its own table (merge-on-read DELETE) ----------

  private val dvCache = new LayoutCache[String](LayoutDirs.deleteParent)

  /** Documents-backed table with deletion vectors ON: two appends, then
    * TWO composed merge-on-read deletes — `doc_id % 7 = 3` (version 2)
    * and `n_chars % 5 = 1` (version 3). No data file is rewritten: the
    * logical table is the original files MINUS the recorded masks, and
    * the census reads through the V2 surface with both masks LIVE (the
    * strongest read-path proof — a reader that ignored a mask, applied
    * one twice, or desynchronized its position counter hash-mismatches
    * against DuckDB's WHERE replay). */
  private[graft] def ensureDv(spark: SparkSession, sfDir: String): String =
    dvCache.get(sfDir, "documents.parquet") {
      val root = Files.createTempDirectory("graft-dvq")
      val table = root.toString + "/table"
      val docs = Tables.documents(spark, sfDir)
      (0 until 2).foreach { i =>
        docs.filter(col("doc_id") % 2 === i)
          .write.format("graft-commitlog")
          .option("path", table).option("statsCol", "doc_id")
          .option("enableDv", "true")
          .mode("append").save()
      }
      val (v1, n1) = CommitLogIngest.deleteWhere(spark, table,
        col("doc_id") % 7 === 3, statsCol = Some("doc_id"))
      require(v1 == 2L && n1 > 0,
        s"dv delete 1 did not commit: v$v1, $n1 files")
      val (v2, n2) = CommitLogIngest.deleteWhere(spark, table,
        col("n_chars") % 5 === 1, statsCol = Some("doc_id"))
      require(v2 == 3L && n2 > 0,
        s"dv delete 2 did not commit: v$v2, $n2 files")
      table
    }

  def dvCensus(spark: SparkSession, sfDir: String): DataFrame = {
    val table = ensureDv(spark, sfDir)
    census(spark.read.format("graft-commitlog").option("path", table)
      .load().select("source", "doc_id", "n_chars"))
  }

  val dvCensusSql: String =
    """SELECT source, COUNT(*) AS n_docs,
      |  CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
      |  MIN(doc_id) AS min_doc, MAX(doc_id) AS max_doc
      |FROM documents WHERE doc_id % 7 <> 3 AND n_chars % 5 <> 1
      |GROUP BY source""".stripMargin

  // -- deletion-vector UPDATE face (round-12 verdict task 3) ----------------

  private val dvUpdCache = new LayoutCache[String](LayoutDirs.deleteParent)

  /** Documents-backed DV table put through the SAME logical DML sequence
    * as the copy-on-write `src_update_commit` table — delete
    * `doc_id % 7 = 3`, then update `n_chars += 1000 WHERE doc_id % 5 = 0`
    * — but MERGE-ON-READ both times: the delete masks positions, the
    * update masks the pre-images and re-appends the post-images
    * (`updateWhereDv`), no original file rewritten. The oracle is
    * [[updatedCensusSql]] VERBATIM: CoW and DV are two physical routes to
    * one logical table, and hash equality against the same SQL is the
    * strongest statement of that. */
  private[graft] def ensureDvUpd(spark: SparkSession, sfDir: String)
      : String =
    dvUpdCache.get(sfDir, "documents.parquet") {
      val root = Files.createTempDirectory("graft-dvupd")
      val table = root.toString + "/table"
      val docs = Tables.documents(spark, sfDir)
      (0 until 2).foreach { i =>
        docs.filter(col("doc_id") % 2 === i)
          .write.format("graft-commitlog")
          .option("path", table).option("statsCol", "doc_id")
          .option("enableDv", "true")
          .mode("append").save()
      }
      val before = CommitLogIngest.liveFiles(spark, table, 1L).toSet
      val (v1, n1) = CommitLogIngest.deleteWhere(spark, table,
        col("doc_id") % 7 === 3, statsCol = Some("doc_id"))
      require(v1 == 2L && n1 > 0,
        s"dv delete did not commit: v$v1, $n1 files")
      val (v2, n2) = CommitLogIngest.updateWhere(spark, table,
        col("doc_id") % 5 === 0,
        Map("n_chars" -> (col("n_chars") + lit(1000))),
        statsCol = Some("doc_id"))
      require(v2 == 3L && n2 > 0,
        s"dv update did not commit: v$v2, $n2 files")
      val after = CommitLogIngest.liveFiles(spark, table, v2).toSet
      require(before.subsetOf(after),
        "merge-on-read UPDATE moved original data files")
      table
    }

  def dvUpdateCensus(spark: SparkSession, sfDir: String): DataFrame = {
    val table = ensureDvUpd(spark, sfDir)
    census(spark.read.format("graft-commitlog").option("path", table)
      .load().select("source", "doc_id", "n_chars"))
  }

  /** Incrementally maintained rollup (E-158, `sources/CdfRollup`): the
    * per-source census INITIALIZED from the pre-DML snapshot (version
    * delV−1) and advanced ONLY through change-feed deltas across the
    * delete and update commits — never re-reading the base table. The
    * oracle is the FULL-recompute SQL of the final state, so hash
    * equality proves incremental maintenance ≡ recompute through
    * in-place mutation (the thing `src_incr_rollup`'s append-only
    * O(delta) path cannot express). */
  def cdfMvCensus(spark: SparkSession, sfDir: String): DataFrame = {
    val (table, delV) = ensure(spark, sfDir)
    CdfRollup.maintained(spark, table, delV - 1)
  }

  val cdfMvCensusSql: String =
    """SELECT source, COUNT(*) AS n_docs,
      |  CAST(SUM(CASE WHEN doc_id % 5 = 0 THEN n_chars + 1000
      |                ELSE n_chars END) AS BIGINT) AS sum_chars
      |FROM documents WHERE doc_id % 7 <> 3 GROUP BY source""".stripMargin

  // -- FULL-shape merge face (round-12 verdict task 1): its own table ------

  private val fullMergeCache = new LayoutCache[String](LayoutDirs.deleteParent)

  /** Documents-backed table put through ONE full clause-list MERGE
    * (`CommitLogIngest.merge`) exercising every clause kind the Delta
    * model has — the CDC-apply shape the upsert path refused until round
    * 13:
    *
    *  - source = the `doc_id % 3 = 0` docs with n_chars SHIFTED +1 (so a
    *    clause reading the source side is distinguishable from one
    *    reading the target), plus `doc_id % 13 = 2` docs re-keyed +20M
    *    (guaranteed unmatched → insert candidates);
    *  - WHEN MATCHED AND src.n_chars % 4 = 0 THEN DELETE;
    *  - WHEN MATCHED THEN UPDATE SET n_chars = src.n_chars + 100;
    *  - WHEN NOT MATCHED AND src.n_chars % 2 = 0 THEN INSERT
    *    (source = 'merged');
    *  - WHEN NOT MATCHED BY SOURCE AND doc_id % 17 = 4 THEN UPDATE SET
    *    n_chars = n_chars + 3;
    *  - WHEN NOT MATCHED BY SOURCE AND doc_id % 17 = 9 THEN DELETE.
    *
    * DuckDB replays the cascade with WHERE/CASE over the original
    * parquet; hash equality proves first-true-wins clause order, the
    * matched/unmatched split, and the conditional-insert ignore rule. */
  private[graft] def ensureFullMerge(spark: SparkSession, sfDir: String)
      : String =
    fullMergeCache.get(sfDir, "documents.parquet") {
      val root = Files.createTempDirectory("graft-mergefull")
      val table = root.toString + "/table"
      val docs = Tables.documents(spark, sfDir)
        .select("doc_id", "source", "n_chars")
      (0 until 2).foreach { i =>
        docs.filter(col("doc_id") % 2 === i)
          .write.format("graft-commitlog")
          .option("path", table).option("statsCol", "doc_id")
          .mode("append").save()
      }
      import CommitLogIngest.MergeClause._
      val source = docs.filter(col("doc_id") % 3 === 0)
        .select(col("doc_id"), (col("n_chars") + lit(1)).as("n_chars"))
        .unionByName(docs.filter(col("doc_id") % 13 === 2)
          .select((col("doc_id") + lit(20000000L)).as("doc_id"),
            (col("n_chars") + lit(1)).as("n_chars")))
      val (v, n) = CommitLogIngest.merge(spark, table, source, "doc_id",
        Seq(
          MatchedDelete(Some(src("n_chars") % 4 === 0)),
          MatchedUpdate(None,
            Map("n_chars" -> (src("n_chars") + lit(100)))),
          NotMatchedInsert(Some(src("n_chars") % 2 === 0),
            Map("doc_id" -> src("doc_id"), "source" -> lit("merged"),
              "n_chars" -> src("n_chars"))),
          NotMatchedBySourceUpdate(Some(col("doc_id") % 17 === 4),
            Map("n_chars" -> (col("n_chars") + lit(3)))),
          NotMatchedBySourceDelete(Some(col("doc_id") % 17 === 9))),
        statsCol = Some("doc_id"))
      require(v == 2L && n > 0, s"full merge did not commit: v$v, $n files")
      table
    }

  def fullMergeCensus(spark: SparkSession, sfDir: String): DataFrame = {
    val table = ensureFullMerge(spark, sfDir)
    census(CommitLogIngest.snapshot(spark, table))
  }

  val fullMergeCensusSql: String =
    """WITH merged AS (
      |  SELECT doc_id, source, n_chars + 101 AS n_chars FROM documents
      |  WHERE doc_id % 3 = 0 AND (n_chars + 1) % 4 <> 0
      |  UNION ALL
      |  SELECT doc_id, source,
      |    CASE WHEN doc_id % 17 = 4 THEN n_chars + 3
      |         ELSE n_chars END AS n_chars
      |  FROM documents WHERE doc_id % 3 <> 0 AND doc_id % 17 <> 9
      |  UNION ALL
      |  SELECT doc_id + 20000000, 'merged' AS source, n_chars + 1
      |  FROM documents WHERE doc_id % 13 = 2 AND (n_chars + 1) % 2 = 0)
      |SELECT source, COUNT(*) AS n_docs,
      |  CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
      |  MIN(doc_id) AS min_doc, MAX(doc_id) AS max_doc
      |FROM merged GROUP BY source""".stripMargin

  /** Test hook: drop cached layouts (the shared clear contract). */
  private[graft] def clearCache(): Unit = {
    cache.clear(); mergedCache.clear(); dvCache.clear()
    fullMergeCache.clear(); dvUpdCache.clear()
  }

  def queries: Map[String, Q] = Map(
    "src_delete_commit" -> Q(deletedCensusSql)(deletedCensus),
    "src_update_commit" -> Q(updatedCensusSql)(updatedCensus),
    "src_merge_commit" -> Q(mergedCensusSql)(mergedCensus),
    "src_merge_full" -> Q(fullMergeCensusSql)(fullMergeCensus),
    "src_cdc_feed" -> Q(cdcCensusSql)(cdcCensus),
    "src_cdf_read" -> Q(cdcCensusSql)(cdfReadCensus),
    "src_dv_delete" -> Q(dvCensusSql)(dvCensus),
    "src_dv_update" -> Q(updatedCensusSql)(dvUpdateCensus),
    "src_cdf_mv" -> Q(cdfMvCensusSql)(cdfMvCensus))
}
