package graft.model

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DoubleType, FloatType, LongType, TimestampNTZType, TimestampType}

/** Loaders for the driver-generated testdata tables (TESTDATA.md).
  *
  * Every operator query takes an `sfDir` (e.g. /root/testdata/sf0.01) and
  * reads only the tables it needs — Catalyst prunes columns/filters into the
  * parquet scan, so loaders stay unprojected here.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Nanoseconds per day: canonical `ts` is nanos-since-epoch, so
    * `ts div NanosPerDay` is the epoch-day — the same integer DuckDB
    * reaches via `epoch_ms(ts) // 86400000` (floor-of-floor composes for
    * the positive-epoch corpus). */
  val NanosPerDay = 86400000000000L

  /** `events` with the epoch-day of its canonical `ts` as `day` (a
    * layout-shaped source already carries one; it is re-derived). */
  def withDay(events: DataFrame): DataFrame =
    events.drop("day").withColumn("day", expr(s"ts div $NanosPerDay"))

  /** Session-wide parquet confs the events loader DEPENDS on but no longer
    * sets (round-9 fix: a loader that flips session-global conf as a side
    * effect silently changes how every later parquet read in the session
    * surfaces nanos/NTZ timestamp columns). Every graft entrypoint applies
    * these once at session bootstrap via [[bootstrap]]; `normalizeEventTs`
    * asserts them and performs no conf writes.
    *
    *  - `nanosAsLong`: Spark 4 refuses TIMESTAMP(NANOS) parquet unless set;
    *    with it, a nanos column surfaces as nanos-since-epoch LONG — the
    *    canonical `ts` type.
    *  - NTZ inference off: a naive (isAdjustedToUTC=false) column loads as
    *    TimestampType holding its stored micros verbatim, so `unix_micros`
    *    is timezone-independent and matches DuckDB's `epoch_ms`. */
  val sessionConfs: Seq[(String, String)] = Seq(
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    "spark.sql.parquet.inferTimestampNTZ.enabled" -> "false")

  /** Apply [[sessionConfs]]; call ONCE right after `getOrCreate()` in every
    * entrypoint (Bench, Verify, ScaleCheck, ProxyApp, tools, test suite). */
  def bootstrap(spark: SparkSession): SparkSession = {
    sessionConfs.foreach { case (k, v) => spark.conf.set(k, v) }
    spark
  }

  private def assertBootstrapped(spark: SparkSession): Unit =
    sessionConfs.foreach { case (k, v) =>
      val actual = spark.conf.getOption(k)
      require(actual.contains(v),
        s"events loader requires session conf $k=$v (call " +
          s"Tables.bootstrap(spark) at session startup); found $actual")
    }

  def load(spark: SparkSession, sfDir: String, table: String): DataFrame = {
    val path = s"$sfDir/$table.parquet"
    table match {
      case "events"     => normalizeEventTs(spark, path)
      case "embeddings" => normalizeEmbedding(spark, path)
      case _            => spark.read.parquet(path)
    }
  }

  /** Load embeddings with `embedding` normalized to ONE canonical element
    * type: `array<float>`, whatever the parquet on disk says (the events-ts
    * lesson applied to the other typed column the driver could drift).
    *
    * A silent `array<double>` drift would otherwise be poison: the codegen
    * `cosine_sim` expression declares float inputs, so Spark would
    * implicit-CAST each element down to float while the DuckDB oracles
    * compute from the raw doubles — rounded-6 hash mismatches across the
    * similarity family instead of one loud failure. The cross-engine
    * contract is FLOAT precision: this loader pins the Spark side, and the
    * oracle SQL reads `CAST(embedding[i] AS FLOAT)` before widening — both
    * no-ops on today's float parquet, bit-identical under drift. */
  private def normalizeEmbedding(spark: SparkSession, path: String): DataFrame = {
    val df = spark.read.parquet(path)
    df.schema("embedding").dataType match {
      case ArrayType(FloatType, _) => df
      case ArrayType(DoubleType, _) =>
        df.withColumn("embedding", col("embedding").cast(ArrayType(FloatType)))
      case other =>
        throw new IllegalStateException(
          s"embeddings.embedding: unsupported parquet type $other in $path")
    }
  }

  /** Load events with `ts` normalized to ONE canonical type: nanoseconds
    * since epoch as LONG, whatever the parquet on disk says.
    *
    * The driver regenerates testdata between (and within) rounds and has
    * already shipped `ts` as TIMESTAMP(NANOS) and as TIMESTAMP(MICROS,
    * isAdjustedToUTC=false); a reader pinned to one physical type dies on
    * the next regeneration (round 7: all 10 events queries failed
    * analysis). Every consumer does `ts div 1e6 → ms`-style integer
    * arithmetic and every DuckDB oracle uses `epoch_ms(ts)`, so the
    * contract here is: same integer instant on both engines.
    *
    *  - NANOS parquet: Spark 4 refuses nanos timestamps unless
    *    `nanosAsLong` is set, which surfaces `ts` as nanos LONG — already
    *    canonical.
    *  - MICROS/MILLIS parquet: read as TimestampType and convert with
    *    `unix_micros * 1000`. `inferTimestampNTZ` is disabled session-wide
    *    (see [[sessionConfs]]; asserted here, not set here)
    *    so a naive (isAdjustedToUTC=false) column loads its stored value
    *    verbatim as micros-since-epoch — exactly how DuckDB's `epoch_ms`
    *    treats it — independent of the session timezone. (With NTZ
    *    inference on, the NTZ→epoch conversion would shift by the session
    *    zone and diverge from the oracle anywhere but UTC.)
    *  - Plain INT64: trusted as already nanos (our own sf1 generator
    *    round-trips through this loader).
    *
    * Tradeoff: on the timestamp-typed encodings the canonical column is a
    * projection, so a raw `ts` range predicate no longer pushes into the
    * parquet scan (the registry's events queries all do bucket arithmetic,
    * not ts-range scans — and a scan-heavy consumer at 100 TB should
    * partition events by time, making pruning directory-level anyway).
    */
  private def normalizeEventTs(spark: SparkSession, path: String): DataFrame = {
    assertBootstrapped(spark)
    val df = spark.read.parquet(path)
    df.schema("ts").dataType match {
      case LongType => df
      case TimestampType =>
        df.withColumn("ts", unix_micros(col("ts")) * lit(1000L))
      case TimestampNTZType =>
        // unreachable with NTZ inference off; kept so a future Spark that
        // ignores that conf still yields the canonical column (cast goes
        // through the session zone — correct when the session runs UTC).
        df.withColumn(
          "ts", unix_micros(col("ts").cast(TimestampType)) * lit(1000L))
      case other =>
        throw new IllegalStateException(
          s"events.ts: unsupported parquet type $other in $path")
    }
  }

  /** Scale-adaptive scan spread for tokenize/hash-heavy SINGLE-REFERENCE
    * passes: a small corpus arrives as one parquet file = one scan
    * partition, so a per-doc regex/md5 pass runs on one core while the
    * rest idle. Repartitions by a deterministic row key ONLY when the
    * scan has fewer partitions than the session's cores — at any real
    * scale the scan already has ≥ defaultParallelism splits and this is
    * a provable no-op (no extra exchange at 100 TB). Hash-by-key, not
    * round-robin: round-robin pays a sort-before-repartition and is
    * retry-hazardous on nondeterministic input. Apply ONLY where (a) the
    * frame is referenced once (each reference re-plans the exchange — a
    * measured regression on the multi-reference similarity family) and
    * (b) downstream reductions are order-insensitive (integer counts,
    * min/max, row-local expressions). */
  def spread(df: DataFrame, key: String): DataFrame = {
    val cores = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions < cores)
      df.repartition(cores, col(key))
    else df
  }

  def region(s: SparkSession, d: String): DataFrame     = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame     = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame   = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame   = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame       = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame     = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame   = load(s, d, "lineitem")
  def events(s: SparkSession, d: String): DataFrame     = load(s, d, "events")
  def documents(s: SparkSession, d: String): DataFrame  = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")
}
