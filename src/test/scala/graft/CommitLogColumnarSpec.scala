package graft

import java.sql.{Date, Timestamp}

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.streaming.CommitLogIngest

/** The `graft-commitlog` V2 read against the API read of the same table:
  * each case builds a table and lists pairs of (V2 read, `CommitLogIngest`
  * read), and every pair must hold the same multiset of rows — the
  * connector's pruning, constants, masks and column mapping sit on top of
  * the one parquet decoder, and none of them may change an answer. One
  * test runs per case, under the case's name. */
class CommitLogColumnarSpec extends SparkSuite {

  private def tmp(prefix: String): String = {
    val d = java.nio.file.Files.createTempDirectory(s"graft-read-$prefix")
    d.toFile.deleteOnExit()
    d.toString + "/t"
  }

  private def v2(table: String): DataFrame =
    spark.read.format("graft-commitlog").option("path", table).load()

  private def snap(table: String): DataFrame =
    CommitLogIngest.snapshot(spark, table)

  private def key(r: Row): String = r.toSeq.map {
    case b: Array[Byte] => b.toSeq.toString
    case v => String.valueOf(v)
  }.mkString("|")

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(key).sorted.toSeq

  private def frame(schema: StructType, rs: Seq[Row], parts: Int)
      : DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(rs, parts), schema)

  private val allTypes = StructType(Seq(
    StructField("c_long", LongType),
    StructField("c_int", IntegerType),
    StructField("c_short", ShortType),
    StructField("c_byte", ByteType),
    StructField("c_double", DoubleType),
    StructField("c_float", FloatType),
    StructField("c_bool", BooleanType),
    StructField("c_str", StringType),
    StructField("c_bin", BinaryType),
    StructField("c_ts", TimestampType),
    StructField("c_date", DateType)))

  private def allTypesRows(n: Int): Seq[Row] =
    (0 until n).map { i =>
      if (i % 7 == 3) Row.fromSeq(Seq.fill(allTypes.length)(null))
      else Row(i.toLong, i, i.toShort, (i % 100).toByte, i * 1.5,
        i * 0.5f, i % 2 == 0, s"s-$i", Array[Byte](i.toByte, (i + 1).toByte),
        new Timestamp(1700000000000L + i * 1000L),
        new Date(86400000L * (19000 + i)))
    }

  /** Each case: its name and the (V2 read, API read) pairs over a table it
    * builds. */
  private def cases: Seq[(String, () => Seq[(DataFrame, DataFrame)])] = Seq(
    "all supported types round-trip through the columnar path, nulls included" -> { () =>
      val t = tmp("types")
      frame(allTypes, allTypesRows(500), 2).write.format("graft-commitlog")
        .option("path", t).mode("append").save()
      // the round trip is also exact against the rows written
      assert(rows(v2(t)) == allTypesRows(500).map(key).sorted)
      Seq(v2(t) -> snap(t),
        v2(t).filter(col("c_str") >= "s-400") ->
          snap(t).filter(col("c_str") >= "s-400"))
    },
    "mixed generations null-fill, filters row-group-skip, count-only scans work" -> { () =>
      val s = spark
      import s.implicits._
      val t = tmp("gen")
      (0L until 3000L).map(i => (i, s"p$i")).toDF("id", "p")
        .repartitionByRange(3, col("id")).sortWithinPartitions("id")
        .write.format("graft-commitlog").option("path", t)
        .mode("append").save()
      (3000L until 6000L).map(i => (i, s"p$i", i * 2))
        .toDF("id", "p", "extra")
        .repartitionByRange(3, col("id")).sortWithinPartitions("id")
        .write.format("graft-commitlog").option("path", t)
        .mode("append").save()
      val old = v2(t).filter(col("id") < 3000).collect()
      assert(old.length == 3000 && old.forall(_.isNullAt(2)),
        "old generation did not null-fill")
      assert(v2(t).filter(col("extra") > 11000L).count() == 499L)
      assert(v2(t).count() == 6000L)
      Seq(v2(t) -> snap(t),
        v2(t).filter(col("id") >= 5990) -> snap(t).filter(col("id") >= 5990),
        v2(t).filter(col("extra") === 7000L) ->
          snap(t).filter(col("extra") === 7000L))
    },
    "a renamed (mapped) column" -> { () =>
      val s = spark
      import s.implicits._
      val t = tmp("mapped")
      (0L until 100L).map(i => (i, i + 1000L, s"p$i")).toDF("id", "a", "tag")
        .write.format("graft-commitlog").option("path", t)
        .mode("append").save()
      CommitLogIngest.renameColumn(s, t, "a", "score")
      assert(v2(t).columns.toSeq == Seq("id", "score", "tag"))
      Seq(v2(t) -> snap(t),
        v2(t).filter(col("score") >= 1050L) ->
          snap(t).filter(col("score") >= 1050L))
    },
    "a masked file with a pushed filter" -> { () =>
      val s = spark
      import s.implicits._
      val t = tmp("dv")
      (0L until 200L).map(i => (i, s"p$i")).toDF("id", "p")
        .write.format("graft-commitlog").option("path", t)
        .option("statsCol", "id").option("enableDv", "true")
        .mode("append").save()
      CommitLogIngest.deleteWhere(s, t, col("id") % 7 === 3,
        statsCol = Some("id"))
      assert(CommitLogIngest.liveState(s, t,
        CommitLogIngest.latestVersion(t))._2.nonEmpty, "no live mask")
      val in = col("id") >= 7L && col("id") <= 31L
      assert(v2(t).filter(in).count() == (7L to 31L).count(_ % 7 != 3))
      Seq(v2(t) -> snap(t), v2(t).filter(in) -> snap(t).filter(in))
    },
    "CDF constants on append files and on stored change files" -> { () =>
      val s = spark
      import s.implicits._
      val t = tmp("cdf")
      (0L until 100L).map(i => (i, s"p$i")).toDF("id", "p")
        .write.format("graft-commitlog").option("path", t)
        .option("enableCdf", "true").mode("append").save()
      CommitLogIngest.deleteWhere(s, t, col("id") % 3 === 0)
      val feed = s.read.format("graft-commitlog").option("path", t)
        .option("readChangeFeed", "true").option("startingVersion", "0")
        .load()
      val api = CommitLogIngest.changeFeed(s, t, -1L, 1L)
      assert(feed.select("_change_type").distinct().count() == 2,
        "the feed must hold both insert and delete rows")
      Seq(feed -> api,
        feed.select("_commit_version", "_change_type") ->
          api.select("_commit_version", "_change_type"),
        feed.filter(col("_commit_version") === 1L) ->
          api.filter(col("_commit_version") === 1L),
        feed.filter(col("_change_type") === "insert") ->
          api.filter(col("_change_type") === "insert"))
    },
    ("array<primitive> columns decode COLUMNAR: parity with the row " +
      "path and native, nulls/empties/ragged lengths exact") -> { () =>
      val t = tmp("arr")
      val schema = StructType(Seq(
        StructField("id", LongType),
        StructField("emb", ArrayType(FloatType)),
        StructField("ws", ArrayType(LongType))))
      val rs: Seq[Row] = (0 until 500).map { i =>
        if (i % 11 == 3) Row(i.toLong, null, null)
        else if (i % 11 == 7) Row(i.toLong, Seq.empty[Float], Seq.empty[Long])
        else Row(i.toLong,
          (0 until (i % 5) + 1).map(j => i * 0.5f + j),
          (0 until (i % 3) + 1).map(j => i.toLong * 10 + j))
      }
      CommitLogIngest.commitAppend(frame(schema, rs, 4), t)
      def sums(df: DataFrame) = df.agg(sum(size(col("emb"))),
        sum(aggregate(col("ws"), lit(0L), _ + _)))
      Seq(v2(t) -> snap(t), sums(v2(t)) -> sums(snap(t)),
        v2(t).filter(col("id") < 100L) -> snap(t).filter(col("id") < 100L))
    },
    "columnar and row readers agree on the same bytes" -> { () =>
      val s = spark
      import s.implicits._
      val flat = tmp("agree")
      (0L until 5000L).map(i => (i, s"v$i", i * 0.25, i % 3 == 0))
        .toDF("id", "v", "x", "f")
        .write.format("graft-commitlog").option("path", flat)
        .mode("append").save()
      // a nested table schema reads through the same decoder
      val nested = tmp("nested")
      CommitLogIngest.commitAppend(
        (0L until 100L).map(i => (i, s"v$i")).toDF("id", "v")
          .select(col("id"), struct(col("v"), (col("id") * 2).as("w")).as("s")),
        nested)
      val got = v2(nested).collect()
      assert(got.map(r => (r.getLong(0), r.getStruct(1).getString(0),
        r.getStruct(1).getLong(1))).sortBy(_._1).toSeq ==
        (0L until 100L).map(i => (i, s"v$i", i * 2)))
      Seq(v2(flat) -> snap(flat), v2(nested) -> snap(nested),
        v2(nested).select(col("s.w")) -> snap(nested).select(col("s.w")))
    },
    "aggregate parity between connector and native snapshot on lineitem" -> { () =>
      val t = tmp("li")
      CommitLogIngest.commitAppend(
        spark.read.parquet(s"$sf0001/lineitem.parquet"), t)
      // summation order may differ between the two scans' splits
      val q = v2(t).agg(sum("l_quantity")).head().getDouble(0)
      assert(math.abs(q - snap(t).agg(sum("l_quantity")).head()
        .getDouble(0)) < 1e-6)
      def aggs(df: DataFrame) = df.agg(sum("l_orderkey"), count(lit(1)),
        max("l_shipdate"), min("l_returnflag"))
      Seq(aggs(v2(t)) -> aggs(snap(t)), v2(t) -> snap(t))
    },
    "day= partition dirs" -> { () =>
      val s = spark
      import s.implicits._
      val t = tmp("day")
      (0L until 3000L).map(i => (i, i % 5, s"p$i")).toDF("id", "day", "p")
        .write.format("graft-commitlog").option("path", t)
        .option("partitionCols", "day").mode("append").save()
      Seq(v2(t) -> snap(t),
        v2(t).filter(col("day") === 3L) -> snap(t).filter(col("day") === 3L))
    },
    "a count-only scan" -> { () =>
      val s = spark
      import s.implicits._
      val t = tmp("count")
      (0L until 1000L).map(i => (i, s"p$i")).toDF("id", "p").repartition(4)
        .write.format("graft-commitlog").option("path", t)
        .mode("append").save()
      // an empty projection reads through the decoder (no column at all)
      assert(v2(t).select(lit(1)).collect().length == 1000)
      Seq(v2(t).agg(count(lit(1))) -> snap(t).agg(count(lit(1))),
        v2(t).select(lit(1)) -> snap(t).select(lit(1)))
    })

  cases.foreach { case (name, build) =>
    test(name) {
      build().zipWithIndex.foreach { case ((viaV2, viaApi), i) =>
        assert(rows(viaV2) == rows(viaApi), s"pair $i")
      }
    }
  }
}
