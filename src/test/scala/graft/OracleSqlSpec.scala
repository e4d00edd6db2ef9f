package graft

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** The oracle contract: the committed `oracle_sql.json` (what the DuckDB
  * comparison reads) names every oracled query twice — bare and with a
  * `.parquet` suffix. Its bare keys must be exactly the registry's
  * oracled names with byte-identical SQL, so a refactor that moves a
  * query between modules cannot silently change what it is graded
  * against. */
class OracleSqlSpec extends AnyFunSuite {

  test("SparkEntry.oracleSql matches the committed oracle_sql.json") {
    val committed = new com.fasterxml.jackson.databind.ObjectMapper()
      .readValue(new java.io.File("oracle_sql.json"),
        classOf[java.util.Map[String, String]])
      .asScala.toMap
    val bare = committed.filter { case (k, _) => !k.endsWith(".parquet") }
    val live = SparkEntry.oracleSql
    assert(bare.keySet == live.keySet,
      s"names differ: only committed ${(bare.keySet -- live.keySet).toSeq
        .sorted}, only registered ${(live.keySet -- bare.keySet).toSeq.sorted}")
    val changed = live.keys.filter(k => live(k) != bare(k)).toSeq.sorted
    assert(changed.isEmpty, s"oracle SQL changed for: $changed")
    bare.foreach { case (k, v) =>
      assert(committed.get(s"$k.parquet").contains(v),
        s"$k.parquet does not carry the same SQL as $k")
    }
  }
}
