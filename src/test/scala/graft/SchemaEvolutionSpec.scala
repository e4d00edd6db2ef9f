package graft

import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions._
import graft.sources.CommitSchemaEvolution
import graft.streaming.CommitLogIngest

/** The two-generation documents table's contract: the evolved schema
  * covers both generations with NULL exactly where a file predates a
  * column, and column pruning still reaches the scan through the evolved
  * schema (value correctness is the DuckDB oracle's job,
  * `src_schema_evolution`). */
class SchemaEvolutionSpec extends SparkSuite {

  private def merged =
    CommitLogIngest.snapshot(spark,
      CommitSchemaEvolution.ensureMixed(spark, sf0001))

  test("late columns are NULL exactly on the generation-1 rows") {
    val s = spark
    val cols = merged.columns.toSet
    assert(Set("doc_id", "text", "lang", "source", "n_chars", "quality_v2")
      .subsetOf(cols), s"merged schema incomplete: $cols")
    val gen1Expected = graft.model.Tables.documents(s, sf0001)
      .filter(not(expr(CommitSchemaEvolution.gen2Cond)))
      .count()
    val nullNchars = merged.filter(col("n_chars").isNull).count()
    val nullQ2 = merged.filter(col("quality_v2").isNull).count()
    assert(nullNchars == gen1Expected,
      s"n_chars NULL on $nullNchars rows, expected gen-1 count $gen1Expected")
    assert(nullQ2 == gen1Expected,
      s"quality_v2 NULL on $nullQ2 rows, expected gen-1 count $gen1Expected")
    assert(merged.count() > gen1Expected, "generation 2 is empty")
  }

  test("column pruning reaches the scan through the merged schema") {
    val table = CommitSchemaEvolution.ensureMixed(spark, sf0001)
    val q = merged.groupBy(col("source")).agg(count(lit(1)).as("n"))
    q.collect()
    val scans = unwrapPlan(q.queryExecution.executedPlan)
      .collect { case f: FileSourceScanExec => f }
      .filter(_.metadata.get("Location").exists(_.contains(table)))
    assert(scans.nonEmpty, "no scan over the two-generation table found")
    scans.foreach { f =>
      val read = f.metadata.getOrElse("ReadSchema", "")
      assert(read.contains("source"),
        s"projection lost the grouping column: $read")
      assert(!read.contains("text"),
        s"scan reads the wide text column for a source-only census: $read")
    }
  }

  test("regenerated documents rebuild the mixed layout (fingerprint staleness)") {
    val s = spark
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-evo-stale")
    dir.toFile.deleteOnExit()
    val d = dir.toString
    def write(n: Int): Unit =
      (0 until n).map(i =>
          (i.toLong, s"doc $i", "en", s"src${i % 2}", (10 + i).toLong))
        .toDF("doc_id", "text", "lang", "source", "n_chars")
        .coalesce(1).write.mode("overwrite").parquet(s"$d/documents.parquet")
    write(40)
    val n1 = CommitSchemaEvolution.evolutionCensus(s, d)
      .agg(sum(col("n_docs"))).head().getLong(0)
    assert(n1 == 40, s"expected 40 docs in the mixed census, got $n1")
    write(90)
    val n2 = CommitSchemaEvolution.evolutionCensus(s, d)
      .agg(sum(col("n_docs"))).head().getLong(0)
    assert(n2 == 90,
      s"stale mixed-generation layout served after regeneration (saw $n2)")
  }
}
