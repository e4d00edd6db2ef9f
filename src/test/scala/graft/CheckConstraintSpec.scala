package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.streaming.CommitLogIngest

/** CHECK constraints through the commit log (the Delta constraints
  * shape): enforcement at the one staging choke point every commit of
  * new rows passes through, so a violating batch refuses with ZERO
  * mutation — no version lands, readers never see the rows. SQL CHECK
  * semantics (NULL passes); ADD scans the existing snapshot first (a
  * constraint is an invariant of the whole table, never just of later
  * commits); layout ops re-add already-validated rows without re-reading. */
class CheckConstraintSpec extends SparkSuite {

  private def tmp(prefix: String): String = {
    val d = java.nio.file.Files.createTempDirectory(s"graft-ck-$prefix")
    d.toFile.deleteOnExit()
    d.toString + "/t"
  }

  private def rows(from: Long, n: Long) = {
    val s = spark
    import s.implicits._
    (from until from + n).map(i => (i, s"p$i", i * 10)).toDF("id", "p", "n")
  }

  private def append(table: String,
      df: org.apache.spark.sql.DataFrame): Unit =
    df.write.format("graft-commitlog").option("path", table)
      .option("statsCol", "id").mode("append").save()

  test("violating append refused with zero mutation; valid passes; " +
      "NULL passes; drop re-opens") {
    val s = spark
    import s.implicits._
    val table = tmp("basic")
    append(table, rows(0L, 50L))
    CommitLogIngest.addCheckConstraint(s, table, "id_nonneg", "id >= 0")
    CommitLogIngest.addCheckConstraint(s, table, "n_scaled", "n = id * 10")
    // valid append passes
    append(table, rows(50L, 10L))
    val vOk = CommitLogIngest.latestVersion(table)
    assert(CommitLogIngest.snapshot(s, table).count() == 60L)
    // violating append refused; no version lands, census unchanged
    val e = intercept[Exception] {
      append(table, Seq((-1L, "bad", -10L)).toDF("id", "p", "n"))
    }
    def chain(t: Throwable): Seq[String] =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
        .map(x => Option(x.getMessage).getOrElse("")).toSeq
    assert(chain(e).exists(_.contains("id_nonneg")))
    assert(CommitLogIngest.latestVersion(table) == vOk,
      "refused append must not commit")
    assert(CommitLogIngest.snapshot(s, table).count() == 60L)
    // NULL passes (SQL CHECK semantics)
    append(table, Seq((null.asInstanceOf[java.lang.Long], "x",
      null.asInstanceOf[java.lang.Long])).toDF("id", "p", "n"))
    assert(CommitLogIngest.snapshot(s, table).count() == 61L)
    // drop re-opens the gate
    assert(CommitLogIngest.dropCheckConstraint(table, "id_nonneg"))
    assert(!CommitLogIngest.dropCheckConstraint(table, "id_nonneg"))
    append(table, Seq((-1L, "ok-now", -10L)).toDF("id", "p", "n"))
    assert(CommitLogIngest.snapshot(s, table)
      .filter(col("id") === -1L).count() == 1L)
    // a streamed epoch gets the same gate: refused, no version lands
    val vStream = CommitLogIngest.latestVersion(table)
    val in = MemoryStream[(Long, String, Long)](s)
    val q = in.toDF().toDF("id", "p", "n")
      .writeStream.format("graft-commitlog").option("path", table)
      .option("checkpointLocation", tmp("basic-ck"))
      .start()
    try {
      in.addData((200L, "streamed", 7L))
      val es = intercept[Exception](q.processAllAvailable())
      assert(chain(es).exists(_.contains("n_scaled")), es.toString)
    } finally q.stop()
    assert(CommitLogIngest.latestVersion(table) == vStream,
      "a refused streamed epoch must not commit")
    assert(CommitLogIngest.snapshot(s, table)
      .filter(col("id") === 200L).isEmpty)
  }

  test("ADD scans existing data and refuses; unresolvable expression " +
      "refused; DML rewrites are gated; layout ops are not re-read") {
    val s = spark
    import s.implicits._
    val table = tmp("add")
    append(table, rows(0L, 50L))
    // existing data violates → refused, nothing recorded
    val e = intercept[IllegalArgumentException] {
      CommitLogIngest.addCheckConstraint(s, table, "id_big", "id >= 10")
    }
    assert(e.getMessage.contains("existing row violates"))
    assert(CommitLogIngest.checkConstraintsOf(table).isEmpty)
    // unknown column fails at ADD, before recording
    intercept[Exception] {
      CommitLogIngest.addCheckConstraint(s, table, "ghost", "nope > 0")
    }
    assert(CommitLogIngest.checkConstraintsOf(table).isEmpty)
    CommitLogIngest.addCheckConstraint(s, table, "n_scaled", "n = id * 10")
    // an UPDATE whose rewritten rows violate is refused pre-commit
    val vBefore = CommitLogIngest.latestVersion(table)
    val e2 = intercept[Exception] {
      CommitLogIngest.updateWhere(s, table, col("id") === 7L,
        Map("n" -> lit(1L).cast("long")), statsCol = Some("id"))
    }
    assert(Iterator.iterate(e2: Throwable)(_.getCause)
      .takeWhile(_ != null)
      .exists(t => Option(t.getMessage).exists(_.contains("n_scaled"))))
    assert(CommitLogIngest.latestVersion(table) == vBefore,
      "refused update must not commit")
    // a compliant update passes, and OPTIMIZE (layout op) composes
    CommitLogIngest.updateWhere(s, table, col("id") === 7L,
      Map("id" -> lit(7L).cast("long")), statsCol = Some("id"))
    CommitLogIngest.optimize(s, table, statsCol = Some("id"))
    assert(CommitLogIngest.snapshot(s, table).count() == 50L)
  }

  test("SQL forms land identical results; constraints ride a shallow " +
      "clone") {
    val s = spark
    import s.implicits._
    val table = tmp("sql")
    append(table, rows(0L, 30L))
    s.sql(s"ALTER TABLE '$table' ADD CONSTRAINT pos CHECK (id >= 0)")
    assert(CommitLogIngest.checkConstraintsOf(table) ==
      Seq(("pos", "id >= 0")))
    // the clone inherits the gate
    val dst = tmp("sqlclone")
    CommitLogIngest.shallowClone(s, table, dst)
    assert(CommitLogIngest.checkConstraintsOf(dst) ==
      Seq(("pos", "id >= 0")))
    intercept[Exception] {
      append(dst, Seq((-5L, "bad", 1L)).toDF("id", "p", "n"))
    }
    assert(s.sql(s"ALTER TABLE '$dst' DROP CONSTRAINT pos")
      .collect()(0).getBoolean(0))
    append(dst, Seq((-5L, "fine", 1L)).toDF("id", "p", "n"))
    // the source keeps its own copy
    assert(CommitLogIngest.checkConstraintsOf(table).nonEmpty)
    // duplicate-name ADD refused through SQL too
    intercept[Exception] {
      s.sql(s"ALTER TABLE '$table' ADD CONSTRAINT pos CHECK (id >= 1)")
    }
  }
}
