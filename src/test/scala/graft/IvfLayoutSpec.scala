package graft

import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions._
import graft.sources.IvfLayout

/** The IVF layout's reason to exist is partition pruning: a probe-limited
  * read must plan PartitionFilters against the cell directories and touch
  * at most the probed cells' files. rows+hash content equality is the
  * DuckDB oracle's job; this spec pins the pruning itself. */
class IvfLayoutSpec extends SparkSuite {

  test("probe-limited read prunes to the probed cell partitions") {
    val s = spark
    val df = IvfLayout.ivfLayoutRead(s, sf0001)
    df.collect()
    val scans = unwrapPlan(df.queryExecution.executedPlan)
      .collect { case f: FileSourceScanExec => f }
      .filter(_.metadata.get("Location").exists(_.contains("embeddings_ivf")))
    assert(scans.nonEmpty, "no scan over the IVF layout found")
    scans.foreach { f =>
      val pf = f.partitionFilters.map(_.sql).mkString(" ")
      assert(pf.contains("cell"),
        s"scan has no cell partition filter (filters: $pf)")
      // driver-side pruning: of the K cell directories on disk, the scan
      // selects at most the two probed ones
      assert(f.selectedPartitions.partitionCount <= 2,
        s"scan read ${f.selectedPartitions.partitionCount} partitions, " +
          "wanted <= 2")
    }
    val dirs = new java.io.File(IvfLayout.ensure(s, sf0001))
      .listFiles().count(_.getName.startsWith("cell="))
    assert(dirs > 2, s"layout only has $dirs cell dirs — pruning is vacuous")
  }

  test("layout content reconciles with the in-memory assignment") {
    val s = spark
    val fromLayout = s.read.parquet(IvfLayout.ensure(s, sf0001))
      .groupBy(col("cell").cast("long").as("cell"))
      .agg(count(lit(1)).as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val fromModel = graft.operators.Similarity.kmeansAssignment(s, sf0001)
      .groupBy(col("cell")).agg(count(lit(1)).as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fromLayout == fromModel,
      s"partitioned layout census $fromLayout != model census $fromModel")
  }

  test("regenerated embeddings rebuild the layout and delete the old one") {
    val s = spark
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-ivf-stale")
    dir.toFile.deleteOnExit()
    val d = dir.toString
    def write(n: Int): Unit =
      (0 until n).map { i =>
        (i.toLong, Array.tabulate(8)(j => ((i * 7 + j * 3) % 11).toFloat),
          i % 3)
      }.toDF("vec_id", "embedding", "label")
        .coalesce(1).write.mode("overwrite").parquet(s"$d/embeddings.parquet")
    write(40)
    val first = IvfLayout.ensure(s, d)
    assert(s.read.parquet(first).count() == 40)
    // regenerate under the SAME path: the fingerprint misses, the layout
    // is rebuilt from the new bytes, and the stale copy is reclaimed now
    // rather than at JVM exit
    write(60)
    val second = IvfLayout.ensure(s, d)
    assert(second != first, "stale IVF layout served after regeneration")
    assert(s.read.parquet(second).count() == 60)
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(first)),
      s"the stale layout $first was left on disk")
  }
}
