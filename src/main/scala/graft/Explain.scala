package graft

import org.apache.spark.sql.SparkSession

/** Plan-inspection utility: `sbt "runMain graft.Explain <query names...>"`
  * prints `explain("formatted")` for each registered query — used to keep
  * pushdown/pruning/broadcast/codegen properties honest (see PLANS.md). */
object Explain {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[4]")
      .config("spark.sql.shuffle.partitions", 4)
      .config("spark.ui.enabled", "false")
      .withExtensions(new graft.plans.GraftExtensions)
      .getOrCreate()
    graft.model.Tables.bootstrap(spark)
    spark.sparkContext.setLogLevel("ERROR")
    // optional session confs (e.g. scale-gate dials) so a plan dump can
    // show the at-scale branch of a gated operator:
    //   GRAFT_EXPLAIN_CONF="graft.equiHist.smallInputMaxBytes=0"
    sys.env.get("GRAFT_EXPLAIN_CONF").foreach(confEntries(_).foreach {
      case (k, v) => spark.conf.set(k, v)
    })
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val names = if (args.nonEmpty) args.toSeq else SparkEntry.queries.keys.toSeq.sorted
    for (name <- names) {
      println(s"===== $name =====")
      SparkEntry.queries(name)(spark, sfDir).explain("formatted")
    }
    spark.stop()
  }

  /** `k=v,k2=v2` → its pairs; an entry without `=` (an empty one
    * included) fails naming the entry. */
  def confEntries(spec: String): Seq[(String, String)] =
    spec.split(",").toSeq.map { kv =>
      kv.split("=", 2) match {
        case Array(k, v) => k -> v
        case _ => throw new IllegalArgumentException(
          s"bad GRAFT_EXPLAIN_CONF entry: $kv")
      }
    }
}
