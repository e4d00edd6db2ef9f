package graft

/** The round-16 equi-histogram edge shape (boundary ranks found through a
  * fine census + in-plan edge extraction, no full-table window) must bucket
  * exactly like the distributedPercentRank shape it replaces at scale —
  * `graft.equiHist.smallInputMaxBytes` is the dial: 0 forces the edge
  * shape, a huge value forces the dPR shape. Both run against the real
  * sf0.001 and sf0.01 corpora (ties on o_totalprice and empty output
  * buckets are present there), and every output cell must match, not just
  * the bucket counts. */
class EquiHistGateSpec extends SparkSuite {

  private val gateConf = "graft.equiHist.smallInputMaxBytes"

  private def run(sfDir: String, gate: String): Seq[(Int, Double, Double, Long)] = {
    spark.conf.set(gateConf, gate)
    try graft.operators.Analytics.equiHistogram(spark, sfDir)
      .collect()
      .map(r => (r.getInt(0), r.getDouble(1), r.getDouble(2), r.getLong(3)))
      .sortBy(_._1)
      .toSeq
    finally spark.conf.unset(gateConf)
  }

  test("a non-numeric gate fails naming the key and the value") {
    val e = intercept[IllegalArgumentException](run(sf0001, "8MiB"))
    assert(e.getMessage.contains(gateConf) && e.getMessage.contains("8MiB"),
      e.getMessage)
  }

  for (sf <- Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01")) {
    test(s"edge shape equals dPR shape at $sf") {
      val dpr = run(sf, Long.MaxValue.toString)
      val edge = run(sf, "0")
      assert(edge == dpr)
      assert(dpr.map(_._4).sum > 0)
    }
  }
}
