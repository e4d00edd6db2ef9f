package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Q
import graft.Checkpoints.LineageOps
import graft.model.Tables
import graft.functions.TextFunctions._

/** Deduplication operators over `documents` — the core of a training-data
  * pipeline: exact dedup, n-gram Jaccard, MinHash+LSH banding, SimHash, and
  * embedding-cosine near-dup (in Similarity.scala).
  *
  * Scale design (100 TB): nothing here is O(n²). Every near-dup variant
  * follows the same shape — per-document signature (narrow projection,
  * codegen'd md5/array expressions) → explode to (block-key, doc) → shuffle
  * on block key → within-block pair join. Block keys (shingle, LSH band
  * signature, SimHash half) bound pair fan-out, so the join is a shuffled
  * equi-join on a high-cardinality key, never a cross join. At 1000
  * executors each stage partitions cleanly by its key; skewed blocks (a
  * shingle shared by millions of docs) are the one hazard — mitigated by
  * dropping top-frequency shingles (stop-shingle filter), the standard
  * web-dedup trick.
  */
object Dedup {

  private def toks(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("source"), col("text"),
        tokens(col("text")).as("t"))

  /** [[toks]] with the RAW documents spread first (Tables.spread), so the
    * regex tokenize itself runs post-exchange on every core (spreading
    * the tokenized frame would evaluate the regex on the map side — the
    * single scan partition this exists to escape — and ship the token
    * arrays). */
  private def spreadToks(spark: SparkSession, sfDir: String): DataFrame =
    Tables.spread(Tables.documents(spark, sfDir), "doc_id")
      .select(col("doc_id"), col("source"), col("text"),
        tokens(col("text")).as("t"))

  /** DuckDB twin of [[toks]]+distinct 3-shingles, shared by the oracles. */
  private val shingleCte: String =
    """toks AS (
      |  SELECT doc_id, source, text,
      |    regexp_extract_all(lower(text), '[a-z]+') AS t
      |  FROM documents
      |), sh AS (
      |  SELECT doc_id, list_distinct(list_transform(
      |    range(1, GREATEST(len(t) - 1, 1)),
      |    i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS s
      |  FROM toks
      |), ex AS (
      |  SELECT doc_id, unnest(s) AS shingle FROM sh
      |), sizes AS (
      |  SELECT doc_id, len(s) AS n FROM sh
      |)""".stripMargin

  // ---- exact dedup ----------------------------------------------------------

  /** Exact dedup by normalized-token fingerprint, per source: how many
    * documents survive `dropDuplicates` on the canonical text key. */
  def exactStats(spark: SparkSession, sfDir: String): DataFrame =
    toks(spark, sfDir)
      .select(col("source"), col("text"), fingerprint(col("t")).as("fp"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("text")).as("n_distinct_text"),
        countDistinct(col("fp")).as("n_distinct_fp"))
      .withColumn("n_dups_removed", col("n_docs") - col("n_distinct_fp"))

  val exactStatsSql: String =
    """SELECT source, COUNT(*) AS n_docs,
      |  COUNT(DISTINCT text) AS n_distinct_text,
      |  COUNT(DISTINCT md5(array_to_string(
      |    regexp_extract_all(lower(text), '[a-z]+'), ' '))) AS n_distinct_fp,
      |  COUNT(*) - COUNT(DISTINCT md5(array_to_string(
      |    regexp_extract_all(lower(text), '[a-z]+'), ' '))) AS n_dups_removed
      |FROM documents GROUP BY source""".stripMargin

  // ---- n-gram Jaccard near-dup ---------------------------------------------

  /** Max document frequency for a shingle to participate in candidate
    * generation. The hot-shingle (stop-shingle) filter is THE scale lever:
    * join fan-out is Σ df², so one shingle shared by 1M docs would produce
    * 10¹² pairs. Candidates only — the verify phase computes exact Jaccard
    * over the FULL shingle sets of candidate pairs. */
  private val MaxShingleDf = 10

  /** Byte budget for broadcasting the doc→(n, stop-shingles) verify table
    * into the verify joins (estimated from measured row/element counts:
    * 8 B per hash + 48 B per-row overhead). 512 MiB estimated ≈ ≤ ~1.5 GiB
    * as an in-heap HashedRelation — safe in the 8 GiB bench JVM. Above it
    * the verify runs as a shuffle join (the 100 TB regime).
    * `SPARK_GRAFT_VERIFY_BCAST_MAX` overrides the budget (bytes): 0 forces
    * the shuffle regime — the dial the at-scale shuffle measurements in
    * BENCH_NOTES use, and the production knob for executors with less
    * headroom than the bench JVM. The default is the measured-safe local
    * value; results are identical in either regime (join strategy only). */
  private val VerifyBroadcastMaxBytes: Long =
    sys.env.get("SPARK_GRAFT_VERIFY_BCAST_MAX").flatMap(_.toLongOption)
      .getOrElse(512L << 20)

  /** Pairwise 3-shingle Jaccard ≥ 0.1, two-phase: (1) candidate pairs from
    * a self-join on rare shingles (df ≤ MaxShingleDf — bounds fan-out, no
    * cross join); (2) exact Jaccard over full shingle sets for candidates
    * only. A pair similar ONLY through stop-shingles is unfindable by
    * design (near-dups share rare shingles by construction; measured full
    * recall on this corpus at df ≤ 10 with 2.6× fewer candidates). */
  /** One persisted pair list per (session, SF): the candidate+verify
    * subtree is the most expensive in the suite, and BOTH d_ngram_jaccard
    * and d_dedup_corpus need it — share one MEMORY_AND_DISK materialization
    * instead of recomputing it per query (the 100 TB version of "don't run
    * your most expensive subquery twice"). Values carry the documents
    * source fingerprint like kmCache/pqCache/bpeCache: the driver
    * regenerates testdata in-session, and a path-only key would serve
    * pairs mined from the old bytes. */
  private val pairCache = scala.collection.concurrent.TrieMap
    .empty[(SparkSession, String), (String, DataFrame)]

  private def docsFp(sfDir: String): String =
    graft.sources.SourceFingerprint.key(sfDir, "documents.parquet")

  private def unpersistQuiet(df: DataFrame): Unit =
    try { df.unpersist(); () } catch { case _: Exception => () }

  /** Drop all cached pair lists (unpersisting each). Call when the parquet
    * under a cached sfDir is regenerated in-session, or to release the
    * MEMORY_AND_DISK blocks — entries otherwise live for the session
    * (bounded: one small pair list per (session, SF) actually queried). */
  def clearPairCache(): Unit = {
    // each clear takes the SAME monitor its builder holds (pairList /
    // minhashMins / sourceGrams synchronize on their cache), so a clear
    // racing a build can neither unpersist an in-use frame nor strand a
    // just-built entry (round-9 ADVICE fix)
    pairCache.synchronized {
      pairCache.values.foreach { case (_, df) => unpersistQuiet(df) }
      pairCache.clear()
    }
    minsCache.synchronized {
      minsCache.values.foreach { case (_, df) => unpersistQuiet(df) }
      minsCache.clear()
    }
    sourceGramsCache.synchronized {
      sourceGramsCache.values.foreach { case (_, df, _) => unpersistQuiet(df) }
      sourceGramsCache.clear()
    }
    simSigCache.synchronized {
      simSigCache.values.foreach { case (_, df) => unpersistQuiet(df) }
      simSigCache.clear()
    }
  }

  /** The shared persisted pair list: candidate pairs with RAW (unrounded)
    * `jaccard` and `containment` columns, kept when either measure clears
    * its floor (jaccard ≥ 0.1 ∨ containment ≥ 0.5). Consumers re-filter
    * on their own measure and round on output, so the one materialization
    * serves the Jaccard family AND the subset-containment query. */
  private def pairList(spark: SparkSession, sfDir: String): DataFrame =
    pairCache.synchronized {
      val fp = docsFp(sfDir)
      pairCache.get((spark, sfDir)) match {
        case Some((`fp`, df)) => df
        case stale =>
          stale.foreach { case (_, df) => unpersistQuiet(df) }
          // The stop-set aggregation (collect_set keyed by doc_id) plans
          // to ObjectHashAggregate, which abandons its hash map for
          // SORT-based aggregation after only 128 distinct keys (Spark's
          // default) — i.e. a corpus-keyed groupBy degenerates to
          // re-sorting its whole input. Scope a HEAP-AWARE key-count
          // threshold for THIS build only: stop sets are small per doc,
          // and EVERY concurrently running task keeps its own map, so
          // the budget is a quarter of the heap divided across
          // defaultParallelism tasks (a fixed 2M first try OOMed at sf10
          // under 32 concurrent local-mode tasks). Past the threshold
          // the sort fallback remains the correct at-scale posture.
          // `graft.dedup.aggFallbackKeys` overrides (conf-not-constant,
          // per the round rules).
          val fbConf = "spark.sql.objectHashAggregate.sortBased.fallbackThreshold"
          val prevFb = spark.conf.getOption(fbConf)
          val heapKeys = {
            val tasks = math.max(1, spark.sparkContext.defaultParallelism)
            // Round-16 ADVICE: the aggregate this threshold governs is the
            // stop-set collect_set keyed by doc_id, whose buffers hold a
            // doc's DISTINCT stop shingles — unbounded per key, so the old
            // candidate-buffer model (8·(MaxShingleDf+2)+64 ≈ 160 B/key)
            // could under-budget stop-heavy corpora 50×. Budget a
            // conservative 1024 stop shingles per doc instead; corpora
            // beyond that fall back to sort-based aggregation — the safe
            // at-scale posture. `graft.dedup.aggFallbackKeys` overrides.
            val perKeyBytes = 8L * 1024 + 64L
            math.max(128L,
              Runtime.getRuntime.maxMemory / 4 / tasks / perKeyBytes)
          }
          // Scope note (round-16 ADVICE): this session-wide set is visible
          // to queries another driver thread might run during the build
          // window. The build itself is serialized under
          // pairCache.synchronized, and every harness in this repo (Bench,
          // Verify, ScaleCheck) drives the session single-threaded;
          // the restore in `finally` bounds the window. A concurrent-query
          // deployment should route builds through its own session
          // (spark.newSession()) — not done here because the persisted
          // pair list is keyed by THIS session and the harnesses never
          // overlap queries with the build.
          spark.conf.set(fbConf, spark.conf.getOption(
            "graft.dedup.aggFallbackKeys").getOrElse(heapKeys.toString))
          try {
            val (df, intermediates) = pairListCompute(spark, sfDir)
            df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
            // materialize eagerly so the build-only intermediates (hashed
            // shingle sets, rare-shingle explode) can be freed immediately —
            // they are several times larger than the pair list they produce
            spark.sparkContext.setJobDescription("dedup_pairs: verify phase")
            df.count()
            spark.sparkContext.setJobDescription(null)
            intermediates.foreach(unpersistQuiet)
            pairCache.put((spark, sfDir), (fp, df))
            df
          } finally {
            prevFb match {
              case Some(v) => spark.conf.set(fbConf, v)
              case None => spark.conf.unset(fbConf)
            }
          }
      }
    }

  def ngramJaccard(spark: SparkSession, sfDir: String): DataFrame =
    pairList(spark, sfDir)
      .filter(col("jaccard") >= 0.1)
      .select(col("doc_a"), col("doc_b"), round(col("jaccard"), 6).as("jaccard"))

  /** Subset-containment near-dup: c / min(|A|, |B|) ≥ 0.5 over the same
    * rare-shingle candidates — catches a short document embedded inside a
    * long one, where Jaccard (c / |A∪B|) is diluted by the long side and
    * can sit under its own floor. The standard second lens used alongside
    * Jaccard in published web-dedup pipelines; shares the persisted pair
    * list, so at 100 TB it costs one extra projection, not a second
    * candidate generation. */
  def containmentPairs(spark: SparkSession, sfDir: String): DataFrame =
    pairList(spark, sfDir)
      .filter(col("containment") >= 0.5)
      .select(col("doc_a"), col("doc_b"),
        round(col("jaccard"), 6).as("jaccard"),
        round(col("containment"), 6).as("containment"))

  /** Streaming candidate/stop generator over the exploded shingle table,
    * pre-partitioned and pre-sorted by (h, doc_id): one pass per
    * partition with O(MaxShingleDf) state per group, no hash map of
    * vocabulary-many buffers (the ObjectHashAggregate hazard the first
    * round-15 formulation hit), no self-join. Emits tagged rows:
    *
    *   (0, doc_a, doc_b) — one row per rare shingle (occurrences ≤
    *     MaxShingleDf) per ordered DISTINCT doc pair a < b (sortedness
    *     makes adjacent-dedup exact, so a 60-bit md5 collision inside a
    *     doc cannot double-count);
    *   (1, doc_id, h)    — one row per DISTINCT (doc, stop shingle)
    *     membership (occurrences > MaxShingleDf), the verify phase's
    *     stop-set feed.
    *
    * The rare gate is the OCCURRENCE count of the group — identical to
    * the round-14 `ex.groupBy(h).count() ≤ MaxShingleDf` filter.
    * Deterministic under retry: the input is hash-partitioned by h and
    * totally sorted within partitions. A deliberate exception to the
    * "builtins over closures" rule, like unionFindLabels: this is the
    * sort-aggregate execution shape fused with bounded pair expansion,
    * which no built-in aggregate provides without holding per-key object
    * buffers. StreamCandidatesSpec pins it against the self-join
    * formulation. */
  private[graft] def streamCandidates(
      sorted: DataFrame): org.apache.spark.sql.Dataset[(Int, Long, Long)] = {
    val spark = sorted.sparkSession
    import spark.implicits._
    sorted.as[(Long, Long)].mapPartitions { it =>
      new scala.collection.AbstractIterator[(Int, Long, Long)] {
        private val pending =
          scala.collection.mutable.Queue.empty[(Int, Long, Long)]
        private var started = false
        private var curH = 0L
        private var occ = 0L
        private var prevDoc = 0L
        private val docs = new Array[Long](MaxShingleDf)
        private var nDocs = 0
        private var flushedTail = false

        private def emitPairs(): Unit =
          if (occ <= MaxShingleDf) {
            var i = 0
            while (i < nDocs) {
              var j = i + 1
              while (j < nDocs) {
                pending.enqueue((0, docs(i), docs(j))); j += 1
              }
              i += 1
            }
          }

        private def feed(h: Long, d: Long): Unit = {
          if (!started || h != curH) {
            if (started) emitPairs()
            started = true; curH = h; occ = 1L; prevDoc = d
            nDocs = 1; docs(0) = d
          } else {
            occ += 1
            if (occ <= MaxShingleDf) {
              if (d != prevDoc) { docs(nDocs) = d; nDocs += 1 }
            } else if (occ == MaxShingleDf + 1L) {
              // the group just crossed into STOP: its buffered distinct
              // docs become stop memberships, as does this row's doc if
              // new
              var i = 0
              while (i < nDocs) {
                pending.enqueue((1, docs(i), curH)); i += 1
              }
              if (d != prevDoc) pending.enqueue((1, d, curH))
            } else if (d != prevDoc) {
              pending.enqueue((1, d, curH))
            }
            prevDoc = d
          }
        }

        override def hasNext: Boolean = {
          while (pending.isEmpty && it.hasNext) {
            val r = it.next(); feed(r._1, r._2)
          }
          if (pending.isEmpty && started && !flushedTail && !it.hasNext) {
            emitPairs(); flushedTail = true
          }
          pending.nonEmpty
        }
        override def next(): (Int, Long, Long) = pending.dequeue()
      }
    }
  }

  /** Builds the pair list; returns it UNpersisted plus the build-only
    * persisted intermediates the caller must unpersist once the result is
    * materialized. Without these persists the tokenize+shingle+md5 subtree
    * re-ran 2-3× (once per side of the rare self-join plus the df
    * aggregate) — AQE exchange reuse caught only part of it, and the entry
    * regressed to the suite's largest (round-5 finding). */
  private def pairListCompute(
      spark: SparkSession, sfDir: String): (DataFrame, Seq[DataFrame]) = {
    val base = spreadToks(spark, sfDir)
    // everything downstream works on 60-bit md5-prefix hashes of the
    // shingles: long join keys and long-array intersects instead of
    // strings (cheaper shuffles and equality); a hash collision perturbs
    // the oracle identically (same hash function), so checks are unaffected
    val hashShingles = expr(
      "transform(" + shinglesSql("t", 3) +
        ", x -> CAST(conv(substring(md5(x), 1, 15), 16, 10) AS BIGINT))")
    // hash ONCE: the persisted (doc_id, hashed-shingle-set) table feeds
    // the candidate-generation explode below AND both verify-phase joins,
    // so tokenize+shingle+md5 runs a single time over the corpus
    val shH = base.select(col("doc_id"), hashShingles.as("s"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val ex = shH.select(col("doc_id"), explode(col("s")).as("h"))
    // Round-15 (second iteration; the first — a bounded-set
    // TypedImperativeAggregate per h — kept vocabulary-many object
    // buffers live per task inside ObjectHashAggregate and regressed
    // sf10): ONE exchange of the exploded table, hash-partitioned and
    // sorted by (h, doc_id), feeds a STREAMING group scan
    // ([[streamCandidates]]) that emits candidate pairs for rare groups
    // (occurrences ≤ MaxShingleDf — the same occurrence gate as the old
    // ex.groupBy(h).count()) and distinct stop occurrences for hot
    // groups, with O(MaxShingleDf) state per group. This replaces the
    // round-14 shape's df-census exchange + ex⋈keys re-exchange +
    // rare-self-join (Σ df² fan-out) with one exchange + one in-partition
    // sort; the tagged output is bounded (≤ C(MaxShingleDf,2) pairs per
    // rare shingle + distinct stop memberships) and persisted once for
    // its two consumers.
    val tagged = streamCandidates(
        ex.select(col("h"), col("doc_id"))
          .repartition(col("h"))
          .sortWithinPartitions(col("h"), col("doc_id")))
      .toDF("kind", "a", "b")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // each rare shingle contributes each ordered pair exactly once (the
    // scan dedupes adjacent doc_ids, so a 60-bit md5 collision inside
    // one doc cannot double-count — the property the round-14
    // countDistinct(a.h) enforced), so count(*) per pair IS the
    // distinct common-rare-shingle count
    val cand = tagged.filter(col("kind") === 0)
      .groupBy(col("a").as("doc_a"), col("b").as("doc_b"))
      .agg(count(lit(1)).as("c_rare"))
    // verify phase: c = |A ∩ B| decomposes by GLOBAL shingle df into
    // |A ∩ B ∩ rare| (c_rare above, already paid for) + |A ∩ B ∩ stop|
    // — so the per-pair join only needs each doc's STOP (df >
    // MaxShingleDf) shingles and its total distinct-shingle count,
    // never the full set. Shipping full sets was the round-14 at-scale
    // failure: ~36 GB of shuffle at sf10 and ENOSPC at sf100 once the
    // table outgrew the broadcast budget, because both full hashed
    // arrays crossed the exchanges once per candidate. Stop shingles
    // are the hot tail of the df distribution — a bounded number of
    // DISTINCT values by construction, and per doc a small fraction of
    // its shingles — so the verify payload per pair drops from
    // O(|doc|) to O(|doc ∩ stop|) + two ints (measured ratios in
    // OPTIMIZATION_r15.md).
    // st = each doc's distinct STOP (df > MaxShingleDf) shingles — the
    // (kind=1) rows of the SAME streamed pass (already distinct per
    // (doc, h)), so no second exchange of the exploded table is ever
    // paid. collect_set dedupes defensively; downstream reads are
    // order-insensitive (size(array_intersect), size(st)).
    val stopSets = tagged.filter(col("kind") === 1)
      .groupBy(col("a").as("doc_id")).agg(collect_set(col("b")).as("sth"))
    val vtab = shH.join(stopSets, Seq("doc_id"), "left")
      .select(col("doc_id"), size(col("s")).as("n"),
        coalesce(col("sth"), typedLit(Array.empty[Long])).as("st"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // Join strategy is a MEASURED size gate, not a blind hint. AQE can't
    // make this call (its 10 MB threshold is session-wide; raising it
    // would license unbounded broadcasts everywhere), so the builder
    // measures the verify table from its persisted blocks (one cheap agg
    // job) and broadcasts ONLY under an explicit byte budget; past the
    // budget — the true 100 TB regime — it falls back to the unhinted
    // shuffle join, which is O(candidates) and AQE-planned, and now
    // ships only the stop arrays. The rare/stop split also moves the
    // broadcast crossover ~2 decades right: the gate measures stop
    // bytes, not corpus bytes.
    // coalesce: sum() over ZERO rows is NULL (an empty/all-empty-text
    // corpus) — getLong would NPE where the right answer is "nothing to
    // verify, don't broadcast"
    // ROUND-16 MEASURED NON-CHANGE: replacing this persist+stats job with
    // cheap counts over the persisted tagged table (kind=1 rows = Σ stop
    // bytes exactly) and an UNpersisted broadcast child regressed the
    // steady-state build 2.26 -> 2.83 s at sf0.1: the two BroadcastHashJoin
    // build sides do NOT share one exchange at runtime (self-join attribute
    // dedup defeats stage reuse), so each broadcast re-derived the verify
    // table. The persist + single materializing stats action is
    // load-bearing; kept.
    spark.sparkContext.setJobDescription("dedup_pairs: stats+persist phase")
    val vStats = vtab.agg(count(lit(1)),
      coalesce(sum(size(col("st"))), lit(0L))).head()
    spark.sparkContext.setJobDescription(null)
    val estBytes = vStats.getLong(1) * 8L + vStats.getLong(0) * 48L
    // the broadcast COLLECT is also bounded by spark.driver.maxResultSize
    // (serialized rows ≈ estBytes): cap the budget at half the session's
    // limit so an estimate-vs-serialized margin can't turn the
    // optimization into a hard "bigger than maxResultSize" job failure —
    // past the cap the shuffle join completes regardless
    val maxResult = spark.sparkContext.getConf
      .getSizeAsBytes("spark.driver.maxResultSize", "1g")
    val budget =
      if (maxResult > 0) math.min(VerifyBroadcastMaxBytes, maxResult / 2)
      else VerifyBroadcastMaxBytes
    val gatedV =
      if (estBytes <= budget) broadcast(vtab) else vtab
    val scored = cand
      .join(gatedV.as("sa"), col("doc_a") === col("sa.doc_id"))
      .join(gatedV.as("sb"), col("doc_b") === col("sb.doc_id"))
      .select(col("doc_a"), col("doc_b"),
        (col("c_rare") +
          size(array_intersect(col("sa.st"), col("sb.st"))))
          .cast("double").as("c"),
        col("sa.n").cast("double").as("na"),
        col("sb.n").cast("double").as("nb"))
      .select(col("doc_a"), col("doc_b"),
        (col("c") / (col("na") + col("nb") - col("c"))).as("jaccard"),
        (col("c") / least(col("na"), col("nb"))).as("containment"))
      .filter(col("jaccard") >= 0.1 || col("containment") >= 0.5)
    (scored, Seq(shH, tagged, vtab))
  }

  /** Shared oracle CTE chain: shingles → rare-shingle candidate pairs →
    * exact pairwise Jaccard, ending at `scored(doc_a, doc_b, c, nab)`.
    * ngramJaccardSql, dedupCorpusSql, dupClustersSql, dedupBestSql and
    * minhashRecallSql all COMPOSE from this value — never from textual
    * surgery on each other's finished SQL — so a rewording of one query
    * cannot silently break a sibling's oracle. */
  private val jaccardCtes: String =
    s"""$shingleCte, exh AS (
       |  SELECT doc_id, ('0x' || substr(md5(shingle), 1, 15))::BIGINT AS h
       |  FROM ex
       |), rare AS (
       |  SELECT exh.doc_id, exh.h FROM exh JOIN (
       |    SELECT h FROM exh GROUP BY h
       |    HAVING COUNT(*) <= $MaxShingleDf
       |  ) r ON exh.h = r.h
       |), cand AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM rare a JOIN rare b
       |    ON a.h = b.h AND a.doc_id < b.doc_id
       |), shh AS (
       |  SELECT doc_id, list_transform(s,
       |    x -> ('0x' || substr(md5(x), 1, 15))::BIGINT) AS s
       |  FROM sh
       |), scored AS (
       |  SELECT doc_a, doc_b,
       |    CAST(len(list_intersect(sa.s, sb.s)) AS DOUBLE) AS c,
       |    CAST(len(sa.s) AS DOUBLE) AS na,
       |    CAST(len(sb.s) AS DOUBLE) AS nb,
       |    CAST(len(sa.s) + len(sb.s) AS DOUBLE) AS nab
       |  FROM cand
       |    JOIN shh sa ON doc_a = sa.doc_id
       |    JOIN shh sb ON doc_b = sb.doc_id
       |)""".stripMargin

  val ngramJaccardSql: String =
    s"""WITH $jaccardCtes
       |SELECT doc_a, doc_b, ROUND(c / (nab - c), 6) AS jaccard
       |FROM scored WHERE c / (nab - c) >= 0.1""".stripMargin

  val containmentPairsSql: String =
    s"""WITH $jaccardCtes
       |SELECT doc_a, doc_b,
       |  ROUND(c / (nab - c), 6) AS jaccard,
       |  ROUND(c / LEAST(na, nb), 6) AS containment
       |FROM scored WHERE c / LEAST(na, nb) >= 0.5""".stripMargin

  // ---- MinHash + LSH banding ------------------------------------------------

  private[graft] val NumHashes = 16
  private[graft] val BandSize = 4 // → 4 bands of 4 hashes

  /** Carter-Wegman modulus (prime > 2³²). */
  private[graft] val MinHashP = 4294967311L

  /** MinHash signatures via Carter-Wegman permutations h_i(x) = (h1 + i·h2)
    * mod p over ONE md5 per shingle (h1/h2 = first/second 8 hex chars),
    * banded 4×4; candidate pairs share ≥ 1 band bucket. Output: (doc_a,
    * doc_b, n_bands, est_jaccard = matching-minhash fraction).
    *
    * Shape for scale: the 16 mins are 16 aggregate columns of ONE
    * groupBy(doc) — a single partial-agg shuffle of 16 longs per doc, no
    * row explosion (a per-(doc,i) exploded formulation shuffles
    * shingles×16 rows). Bands and est are then row-local projections; the
    * only joins are the band bucket-join (bounded by bucket occupancy) and
    * the candidate-pair signature lookup. */
  /** One persisted 16-min signature table per (session, SF): the
    * shingle-explode + 16-column min agg is the expensive prefix shared
    * by d_minhash_lsh, d_minhash_recall and d_edit_neardup — 16 longs per
    * doc, the textbook "signature matrix you keep, raw shingles you
    * don't" artifact, so the cache is corpus-linear and tiny. */
  // fingerprint-keyed like pairCache (same regeneration-staleness hazard)
  private val minsCache = scala.collection.concurrent.TrieMap
    .empty[(SparkSession, String), (String, DataFrame)]

  private def minhashMins(spark: SparkSession, sfDir: String): DataFrame =
    minsCache.synchronized {
      val fp = docsFp(sfDir)
      minsCache.get((spark, sfDir)) match {
        case Some((`fp`, df)) => df
        case stale =>
          stale.foreach { case (_, df) => unpersistQuiet(df) }
          val hx = spreadToks(spark, sfDir)
            .select(col("doc_id"), explode(shingles("t", 3)).as("shingle"))
            .select(col("doc_id"),
              conv(substring(md5(col("shingle")), 1, 8), 16, 10).cast("long").as("h1"),
              conv(substring(md5(col("shingle")), 9, 8), 16, 10).cast("long").as("h2"))
          val minCols = (0 until NumHashes).map(i =>
            min((col("h1") + lit(i.toLong) * col("h2")) % MinHashP).as(s"m$i"))
          val mins = hx.groupBy(col("doc_id")).agg(minCols.head, minCols.tail: _*)
          mins.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
          minsCache.put((spark, sfDir), (fp, mins))
          mins
      }
    }

  /** Force the shared signature table to materialize — Bench times this
    * as its own entry so consumer queries time steady-state plans. */
  def materializeMinhash(spark: SparkSession, sfDir: String): Unit = {
    minhashMins(spark, sfDir).count(); ()
  }

  /** Band-bucket candidate pairs (doc_a, doc_b, n_bands) over the shared
    * signature table — the stage consumed directly by editNearDup (which
    * needs only the pairs) and extended with est_jaccard by minhashLsh.
    * Mirrors the SQL side's `minhashCtes(candName)` factoring. */
  def minhashCandidates(spark: SparkSession, sfDir: String): DataFrame = {
    val mins = minhashMins(spark, sfDir)
    val bandStructs = (0 until NumHashes / BandSize).map { b =>
      val sig = md5(concat_ws("|",
        (0 until BandSize).map(j => col(s"m${b * BandSize + j}").cast("string")): _*))
      struct(lit(b).as("band"), sig.as("sig"))
    }
    val bands = mins
      .select(col("doc_id"), explode(array(bandStructs: _*)).as("bs"))
      .select(col("doc_id"), col("bs.band").as("band"), col("bs.sig").as("sig"))
    bands.as("a").join(bands.as("b"),
        col("a.band") === col("b.band") && col("a.sig") === col("b.sig") &&
          col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("n_bands"))
  }

  def minhashLsh(spark: SparkSession, sfDir: String): DataFrame = {
    val mins = minhashMins(spark, sfDir)
    val cand = minhashCandidates(spark, sfDir)
    val estExpr = (0 until NumHashes).map(i =>
      when(col(s"x.m$i") === col(s"y.m$i"), 1).otherwise(0))
      .reduce(_ + _).cast("double") / NumHashes
    cand
      .join(mins.as("x"), col("doc_a") === col("x.doc_id"))
      .join(mins.as("y"), col("doc_b") === col("y.doc_id"))
      .select(col("doc_a"), col("doc_b"), col("n_bands"),
        round(estExpr, 6).as("est_jaccard"))
  }

  private[graft] val mhHashCols: String = (0 until NumHashes)
    .map(i => s"MIN((h1 + $i * h2) % $MinHashP) AS m$i").mkString(",\n    ")

  private[graft] def mhBandSig(b: Int): String =
    "md5(" + (0 until BandSize).map(j => s"CAST(m${b * BandSize + j} AS VARCHAR)")
      .mkString(" || '|' || ") + ")"

  /** MinHash oracle CTE chain (per-shingle hash pair → 16-min signature →
    * band signatures → band-bucket candidate pairs). Requires the shingle
    * CTEs (`ex`) in scope. `candName` parameterizes the candidate CTE so
    * minhashRecallSql can place this chain next to the Jaccard chain's
    * own `cand` without a blanket rename. */
  private def minhashCtes(candName: String): String =
    s"""hx AS (
       |  SELECT doc_id,
       |    ('0x' || substr(md5(shingle), 1, 8))::BIGINT AS h1,
       |    ('0x' || substr(md5(shingle), 9, 8))::BIGINT AS h2
       |  FROM ex
       |), mins AS (
       |  SELECT doc_id,
       |    $mhHashCols
       |  FROM hx GROUP BY doc_id
       |), bands AS (
       |  ${(0 until NumHashes / BandSize)
            .map(b => s"SELECT doc_id, $b AS band, ${mhBandSig(b)} AS sig FROM mins")
            .mkString("\n  UNION ALL\n  ")}
       |), $candName AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_bands
       |  FROM bands a JOIN bands b
       |    ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2
       |)""".stripMargin

  val minhashLshSql: String =
    s"""WITH $shingleCte, ${minhashCtes("cand")}
       |SELECT doc_a, doc_b, n_bands,
       |  ROUND((${(0 until NumHashes)
            .map(i => s"CASE WHEN x.m$i = y.m$i THEN 1 ELSE 0 END")
            .mkString(" + ")}) / $NumHashes.0, 6) AS est_jaccard
       |FROM cand
       |  JOIN mins x ON doc_a = x.doc_id
       |  JOIN mins y ON doc_b = y.doc_id""".stripMargin

  /** Sketch-quality measurement — "measure, don't guess" applied to the
    * sketch itself: MinHash-LSH pairs at est ≥ 0.5 scored against the
    * exact Jaccard ≥ 0.5 truth set, giving recall and precision as QUERY
    * OUTPUT. At 100 TB you can't eyeball whether 16 hashes / 4 bands is
    * enough for your corpus — this query answers it on a sample before
    * the full run, and the oracle re-derives both sides so the number
    * itself is engine-verified.
    *
    * Shape: one full-outer join of the two pair sets with membership
    * flags, then a single aggregate. The previous three-crossjoined-
    * aggregates form referenced each pair subtree twice in one plan, and
    * Spark re-executes (not reuses) repeated subtrees — at sf10 that ran
    * the LSH band self-join twice per action (20.7× sf1→sf10 wall vs
    * ≤5.4× for its own inputs). The flag form evaluates exact and est
    * exactly once each. */
  def minhashRecall(spark: SparkSession, sfDir: String): DataFrame = {
    val exact = ngramJaccard(spark, sfDir)
      .filter(col("jaccard") >= 0.5).select("doc_a", "doc_b")
      .withColumn("in_true", lit(1L))
    val est = minhashLsh(spark, sfDir)
      .filter(col("est_jaccard") >= 0.5).select("doc_a", "doc_b")
      .withColumn("in_est", lit(1L))
    exact.join(est, Seq("doc_a", "doc_b"), "full_outer")
      .agg(
        sum(coalesce(col("in_true"), lit(0L))).as("n_true"),
        sum(coalesce(col("in_est"), lit(0L))).as("n_est"),
        sum(when(col("in_true").isNotNull && col("in_est").isNotNull, 1L)
          .otherwise(0L)).as("n_both"))
      .select(col("n_true"), col("n_est"), col("n_both"),
        round(col("n_both").cast("double")
          / greatest(col("n_true"), lit(1L)), 4).as("recall"),
        round(col("n_both").cast("double")
          / greatest(col("n_est"), lit(1L)), 4).as("precision"))
  }

  val minhashRecallSql: String = {
    val estMatch = (0 until NumHashes)
      .map(i => s"CASE WHEN x.m$i = y.m$i THEN 1 ELSE 0 END")
      .mkString(" + ")
    s"""WITH $jaccardCtes, ${minhashCtes("mcand")}, exact AS (
       |  SELECT doc_a, doc_b FROM scored
       |  WHERE ROUND(c / (nab - c), 6) >= 0.5
       |), est AS (
       |  SELECT doc_a, doc_b FROM mcand
       |    JOIN mins x ON doc_a = x.doc_id
       |    JOIN mins y ON doc_b = y.doc_id
       |  WHERE ROUND(($estMatch) / $NumHashes.0, 6) >= 0.5
       |), agg AS (
       |  SELECT
       |    (SELECT COUNT(*) FROM exact) AS n_true,
       |    (SELECT COUNT(*) FROM est) AS n_est,
       |    (SELECT COUNT(*) FROM exact e JOIN est m
       |       ON e.doc_a = m.doc_a AND e.doc_b = m.doc_b) AS n_both
       |)
       |SELECT n_true, n_est, n_both,
       |  ROUND(n_both / GREATEST(n_true, 1), 4) AS recall,
       |  ROUND(n_both / GREATEST(n_est, 1), 4) AS precision
       |FROM agg""".stripMargin
  }

  // ---- edit-distance verification on MinHash candidates ---------------------

  /** Character-level near-dup: Levenshtein similarity 1 − lev/max(len)
    * ≥ 0.6, verified ONLY on MinHash band-candidate pairs — the
    * shingle-free second opinion (catches small in-place edits that
    * shift every 3-shingle window). Edit distance is quadratic per pair,
    * so at 100 TB the candidate restriction is not an optimization but
    * the difference between feasible and not: O(candidates · len²) vs
    * O(corpus² · len²). */
  def editNearDup(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir).select(col("doc_id"), col("text"))
    minhashCandidates(spark, sfDir).select("doc_a", "doc_b")
      .join(docs.select(col("doc_id").as("doc_a"), col("text").as("ta")),
        Seq("doc_a"))
      .join(docs.select(col("doc_id").as("doc_b"), col("text").as("tb")),
        Seq("doc_b"))
      .withColumn("lev", levenshtein(col("ta"), col("tb")).cast("long"))
      .withColumn("edit_sim",
        round(lit(1.0) - col("lev").cast("double") /
          greatest(length(col("ta")), length(col("tb"))), 6))
      .filter(col("edit_sim") >= 0.6)
      .select(col("doc_a"), col("doc_b"), col("lev"), col("edit_sim"))
  }

  val editNearDupSql: String =
    s"""WITH $shingleCte, ${minhashCtes("cand")}
       |SELECT c.doc_a, c.doc_b,
       |  CAST(levenshtein(da.text, db.text) AS BIGINT) AS lev,
       |  ROUND(1.0 - levenshtein(da.text, db.text)
       |    / GREATEST(LENGTH(da.text), LENGTH(db.text)), 6) AS edit_sim
       |FROM cand c
       |  JOIN documents da ON c.doc_a = da.doc_id
       |  JOIN documents db ON c.doc_b = db.doc_id
       |WHERE ROUND(1.0 - levenshtein(da.text, db.text)
       |    / GREATEST(LENGTH(da.text), LENGTH(db.text)), 6) >= 0.6""".stripMargin

  // ---- SimHash --------------------------------------------------------------

  private val SimBits = 64
  private val SimBands = 4           // 16-bit band keys → 2^16 key space
  private val SimHamMax = 3          // ≤ SimBands-1 ⇒ pigeonhole recall

  /** 64-bit SimHash over 3-shingle features (unigram features don't
    * discriminate — every doc shares the corpus unigram distribution);
    * candidate pairs block on 4 disjoint 16-bit bands and keep
    * hamming ≤ 3. Pigeonhole: ≤ 3 differing bits spread over 4 bands
    * always leave ≥ 1 band intact, so blocking has FULL recall at the
    * kept threshold — and the ~65k-key band space keeps expected
    * candidates at Σ|bucket|² / 2^16 (the round-2 8-bit half-blocking
    * was corpus²/256, quadratic at scale).
    *
    * Bits 0..31 are the bits of the md5 prefix's first 8 hex chars as a
    * 32-bit integer, bits 32..63 of the next 8 — all 64 bits from ONE
    * md5 and TWO conv parses per shingle (the round-3 first cut parsed
    * 16 single hex digits; two 32-bit parses are 8× fewer string-to-int
    * conversions per row for the same bit uniformity). The signature is
    * carried as two 32-bit halves (`lo`, `hi`) so neither engine's
    * signed-BIGINT arithmetic can overflow building it; hamming is
    * bit_count(xor) on each half.
    *
    * Shape for scale (same trick as minhash): the 64 per-bit ±1 sums are
    * 64 aggregate columns of ONE groupBy(doc) over the shingle stream —
    * md5/conv evaluated once per shingle via codegen subexpression
    * elimination, one shuffle of 64 longs per doc, no shingles×64 row
    * explosion. */
  /** One persisted (doc_id, lo, hi) SimHash signature table per
    * (session, SF) — the shingle-explode + 64-column bit-sum agg is the
    * expensive prefix shared by d_simhash_pairs AND d_detector_votes
    * (which re-ran the whole chain per query before round 15); the
    * signature is 2 longs per doc, corpus-linear and tiny, exactly the
    * minsCache economics. Fingerprint-keyed like the other model caches
    * (regeneration-staleness hazard). */
  private val simSigCache = scala.collection.concurrent.TrieMap
    .empty[(SparkSession, String), (String, DataFrame)]

  private def simhashSig(spark: SparkSession, sfDir: String): DataFrame =
    simSigCache.synchronized {
      val fp = docsFp(sfDir)
      simSigCache.get((spark, sfDir)) match {
        case Some((`fp`, df)) => df
        case stale =>
          stale.foreach { case (_, df) => unpersistQuiet(df) }
          val tok = spreadToks(spark, sfDir)
            .select(col("doc_id"), explode(shingles("t", 3)).as("token"))
            .select(col("doc_id"),
              conv(substring(md5(col("token")), 1, 8), 16, 10).cast("long")
                .as("va"),
              conv(substring(md5(col("token")), 9, 8), 16, 10).cast("long")
                .as("vb"))
          val bitSums = (0 until SimBits).map { b =>
            val v = if (b < 32) col("va") else col("vb")
            sum(when(shiftright(v, b % 32).bitwiseAND(lit(1L)) === 1L, 1L)
              .otherwise(-1L)).as(s"s$b")
          }
          val sums = tok.groupBy(col("doc_id"))
            .agg(bitSums.head, bitSums.tail: _*)
          def half(off: Int) = (0 until 32).map(b =>
            when(col(s"s${off + b}") >= 0, lit(1L << b)).otherwise(lit(0L)))
            .reduce(_ + _)
          val sig = sums.select(col("doc_id"), half(0).as("lo"),
            half(32).as("hi"))
          sig.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
          simSigCache.put((spark, sfDir), (fp, sig))
          sig
      }
    }

  /** Force the shared SimHash signature table to materialize — Bench
    * times this as its own entry (shared_simhash_sig) so consumer
    * queries time steady-state plans. */
  def materializeSimhash(spark: SparkSession, sfDir: String): Unit = {
    simhashSig(spark, sfDir).count(); ()
  }

  def simhashPairs(spark: SparkSession, sfDir: String): DataFrame = {
    val sig = simhashSig(spark, sfDir)
    val bands = sig.select(col("doc_id"), col("lo"), col("hi"),
      explode(array(
        struct(lit(0).as("band"),
          (col("lo") bitwiseAND lit(0xFFFFL)).as("key")),
        struct(lit(1).as("band"), shiftright(col("lo"), 16).as("key")),
        struct(lit(2).as("band"),
          (col("hi") bitwiseAND lit(0xFFFFL)).as("key")),
        struct(lit(3).as("band"), shiftright(col("hi"), 16).as("key"))))
        .as("bk"))
      .select(col("doc_id"), col("lo"), col("hi"),
        col("bk.band").as("band"), col("bk.key").as("key"))
    bands.as("a").join(bands.as("b"),
        col("a.band") === col("b.band") && col("a.key") === col("b.key") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        (bit_count(col("a.lo") bitwiseXOR col("b.lo")) +
          bit_count(col("a.hi") bitwiseXOR col("b.hi"))).cast("long")
          .as("hamming"))
      .filter(col("hamming") <= SimHamMax)
      .distinct()
  }

  val simhashPairsSql: String =
    s"""WITH toks AS (
       |  SELECT doc_id, regexp_extract_all(lower(text), '[a-z]+') AS t
       |  FROM documents
       |), shs AS (
       |  SELECT doc_id, list_distinct(list_transform(
       |    range(1, GREATEST(len(t) - 1, 1)),
       |    i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS s
       |  FROM toks
       |), tok AS (
       |  SELECT doc_id,
       |    ('0x' || substr(md5(unnest(s)), 1, 8))::BIGINT AS va,
       |    ('0x' || substr(md5(unnest(s)), 9, 8))::BIGINT AS vb
       |  FROM shs
       |), sums AS (
       |  SELECT doc_id,
       |    ${(0 until SimBits).map { b =>
              val v = if (b < 32) "va" else "vb"
              s"SUM(CASE WHEN ($v >> ${b % 32}) & 1 = 1 " +
                s"THEN 1 ELSE -1 END) AS s$b"
            }.mkString(",\n    ")}
       |  FROM tok GROUP BY doc_id
       |), sig AS (
       |  SELECT doc_id,
       |    ${(0 until 32).map(b =>
              s"CASE WHEN s$b >= 0 THEN (1::BIGINT << $b) ELSE 0 END")
              .mkString(" + ")} AS lo,
       |    ${(32 until 64).map(b =>
              s"CASE WHEN s$b >= 0 THEN (1::BIGINT << ${b - 32}) ELSE 0 END")
              .mkString(" + ")} AS hi
       |  FROM sums
       |), bands AS (
       |  SELECT doc_id, lo, hi, 0 AS band, lo & 65535 AS key FROM sig
       |  UNION ALL SELECT doc_id, lo, hi, 1, lo >> 16 FROM sig
       |  UNION ALL SELECT doc_id, lo, hi, 2, hi & 65535 FROM sig
       |  UNION ALL SELECT doc_id, lo, hi, 3, hi >> 16 FROM sig
       |)
       |SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |  CAST(bit_count(xor(a.lo, b.lo)) + bit_count(xor(a.hi, b.hi))
       |    AS BIGINT) AS hamming
       |FROM bands a JOIN bands b
       |  ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
       |WHERE bit_count(xor(a.lo, b.lo)) + bit_count(xor(a.hi, b.hi))
       |  <= $SimHamMax""".stripMargin

  // ---- dedup materialization -------------------------------------------------

  /** The pipeline deliverable: the DEDUPLICATED corpus summary. Keep-first
    * strategy: any document that appears as the higher id of a Jaccard ≥
    * 0.5 near-dup pair is dropped (left-anti join against the pair list) —
    * single-pass, deterministic, no iterative connected components (a
    * doc similar only to an already-dropped doc is still dropped, which is
    * the standard conservative web-dedup choice). */
  def dedupCorpus(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir).select("doc_id", "source")
    val drop = ngramJaccard(spark, sfDir)
      .filter(col("jaccard") >= 0.5)
      .select(col("doc_b").as("doc_id")).distinct()
    val kept = docs.join(drop, Seq("doc_id"), "left_anti")
    docs.groupBy(col("source")).agg(count(lit(1)).as("n_docs"))
      .join(kept.groupBy(col("source")).agg(count(lit(1)).as("n_kept")),
        Seq("source"))
      .withColumn("n_dropped", col("n_docs") - col("n_kept"))
  }

  val dedupCorpusSql: String = {
    // reuse the jaccard oracle's CTE chain, then re-derive the pair list
    // as one more CTE
    s"""WITH $jaccardCtes, pairs AS (
       |  SELECT doc_a, doc_b, ROUND(c / (nab - c), 6) AS jaccard
       |  FROM scored WHERE c / (nab - c) >= 0.1
       |), drop0 AS (
       |  SELECT DISTINCT doc_b AS doc_id FROM pairs WHERE jaccard >= 0.5
       |), kept AS (
       |  SELECT d.doc_id, d.source FROM documents d
       |  WHERE d.doc_id NOT IN (SELECT doc_id FROM drop0)
       |)
       |SELECT d.source, COUNT(*) AS n_docs, k.n_kept,
       |  COUNT(*) - k.n_kept AS n_dropped
       |FROM documents d
       |  JOIN (SELECT source, COUNT(*) AS n_kept FROM kept GROUP BY 1) k
       |    ON d.source = k.source
       |GROUP BY d.source, k.n_kept""".stripMargin
  }

  /** MERGE INTO (upsert) in its scale-right distributed form — the other
    * half of incremental corpus maintenance next to [[deltaDedup]]: a
    * delta of revisions (same doc_id, new text) and insertions (new
    * doc_id) merges into the base corpus with delta-wins semantics. No
    * full-outer join: base and delta union with a priority column and ONE
    * shuffle on doc_id picks `row_number() = 1` by priority — at 100 TB
    * that is a single hash exchange of (id, priority, payload) versus the
    * join's two-sided shuffle plus null-handling. Ties impossible: one
    * row per (doc_id, priority) by construction. Output is the per-source
    * post-merge audit (doc counts, how many rows the delta revised /
    * inserted, surviving text volume). */
  def upsertMerge(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("source"), col("text"))
    val base = docs.withColumn("prio", lit(0))
    val revisions = docs.filter(col("doc_id") % 10 === 0)
      .withColumn("text", concat(lit("rev2 "), col("text")))
      .withColumn("prio", lit(1))
    // insertion ids are NEGATIVE (-id - 1): disjoint from every real
    // (non-negative) doc_id by construction at ANY scale factor — an
    // additive offset would collide with real ids once the corpus grows
    // past it, making the priority window nondeterministic
    val insertions = docs.filter(col("doc_id") % 20 === 0)
      .withColumn("doc_id", -col("doc_id") - 1)
      .withColumn("prio", lit(1))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("prio").desc)
    base.unionByName(revisions).unionByName(insertions)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        count(when(col("text").startsWith("rev2 ") &&
          col("doc_id") >= 0, 1)).as("n_revised"),
        count(when(col("doc_id") < 0, 1)).as("n_inserted"),
        sum(length(col("text"))).cast("long").as("sum_chars"))
  }

  val upsertMergeSql: String =
    """WITH delta AS (
      |  SELECT doc_id, source, 'rev2 ' || text AS text, 1 AS prio
      |  FROM documents WHERE doc_id % 10 = 0
      |  UNION ALL
      |  SELECT -doc_id - 1 AS doc_id, source, text, 1 AS prio
      |  FROM documents WHERE doc_id % 20 = 0
      |), unioned AS (
      |  SELECT doc_id, source, text, 0 AS prio FROM documents
      |  UNION ALL SELECT * FROM delta
      |), merged AS (
      |  SELECT * FROM (
      |    SELECT *, row_number() OVER (PARTITION BY doc_id
      |      ORDER BY prio DESC) AS rn
      |    FROM unioned
      |  ) WHERE rn = 1
      |)
      |SELECT source, COUNT(*) AS n_docs,
      |  COUNT(CASE WHEN text LIKE 'rev2 %' AND doc_id >= 0
      |    THEN 1 END) AS n_revised,
      |  COUNT(CASE WHEN doc_id < 0 THEN 1 END) AS n_inserted,
      |  CAST(SUM(LENGTH(text)) AS BIGINT) AS sum_chars
      |FROM merged GROUP BY source""".stripMargin

  // ---- delta-vs-base incremental dedup --------------------------------------

  /** The OPERATIONAL dedup query: a new delta shard (deterministic ~10%
    * md5 slice of doc_ids, standing in for today's crawl) audited
    * against the base corpus — how many delta docs are exact duplicates
    * of a base doc (normalized-token fingerprint) and how many have a
    * Jaccard ≥ 0.5 near-dup partner in base. At 100 TB ingest never
    * re-runs all-pairs dedup: it runs THIS, delta×base only — the exact
    * side is a semi-join on the fingerprint, the near side one
    * projection of the shared candidate pair list (rare-shingle blocking
    * already bounds it). */
  def deltaDedup(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = toks(spark, sfDir)
      .select(col("doc_id"), fingerprint(col("t")).as("fp"),
        (conv(substring(md5(col("doc_id").cast("string")), 1, 15), 16, 10)
          .cast("long") % 10 === 1).as("is_delta"))
    val base = docs.filter(!col("is_delta"))
    val delta = docs.filter(col("is_delta"))
    val exactDup = delta.join(
      base.select(col("fp")), Seq("fp"), "left_semi")
    val flags = docs.select(col("doc_id"), col("is_delta"))
    val near = ngramJaccard(spark, sfDir).filter(col("jaccard") >= 0.5)
      .join(flags.select(col("doc_id").as("doc_a"), col("is_delta").as("da")),
        Seq("doc_a"))
      .join(flags.select(col("doc_id").as("doc_b"), col("is_delta").as("db")),
        Seq("doc_b"))
      .filter(col("da") =!= col("db"))
      .select(when(col("da"), col("doc_a")).otherwise(col("doc_b"))
        .as("delta_doc"))
      .distinct()
    base.agg(count(lit(1)).as("n_base"))
      .crossJoin(delta.agg(count(lit(1)).as("n_delta")))
      .crossJoin(exactDup.agg(count(lit(1)).as("n_delta_exact_dup")))
      .crossJoin(near.agg(count(lit(1)).as("n_delta_near_dup")))
  }

  val deltaDedupSql: String =
    s"""WITH $jaccardCtes, flags AS (
       |  SELECT doc_id,
       |    ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
       |      % 10 = 1 AS is_delta,
       |    md5(array_to_string(
       |      regexp_extract_all(lower(text), '[a-z]+'), ' ')) AS fp
       |  FROM documents
       |), pairs5 AS (
       |  SELECT doc_a, doc_b FROM scored WHERE ROUND(c / (nab - c), 6) >= 0.5
       |), nearx AS (
       |  SELECT DISTINCT CASE WHEN fa.is_delta THEN p.doc_a ELSE p.doc_b END
       |    AS delta_doc
       |  FROM pairs5 p JOIN flags fa ON p.doc_a = fa.doc_id
       |    JOIN flags fb ON p.doc_b = fb.doc_id
       |  WHERE fa.is_delta <> fb.is_delta
       |)
       |SELECT
       |  CAST((SELECT COUNT(*) FROM flags WHERE NOT is_delta) AS BIGINT)
       |    AS n_base,
       |  CAST((SELECT COUNT(*) FROM flags WHERE is_delta) AS BIGINT)
       |    AS n_delta,
       |  CAST((SELECT COUNT(*) FROM flags d WHERE d.is_delta AND EXISTS (
       |    SELECT 1 FROM flags b WHERE NOT b.is_delta AND b.fp = d.fp))
       |    AS BIGINT) AS n_delta_exact_dup,
       |  CAST((SELECT COUNT(*) FROM nearx) AS BIGINT) AS n_delta_near_dup""".stripMargin

  // ---- dedup threshold tuning curve -----------------------------------------

  /** "Measure before you run" for the dedup threshold itself: pair and
    * dropped-doc counts at each candidate Jaccard floor, from ONE scan of
    * the shared pair list. At 100 TB the threshold decides how much of
    * the corpus survives — this is the query a curator runs on a sample
    * to pick it, and it costs one projection over the already-persisted
    * pairs (the 4-row threshold table broadcast-nested-loops against
    * them, never the reverse). */
  def dedupCurve(spark: SparkSession, sfDir: String): DataFrame = {
    val thr = spark.range(1)
      .select(explode(array(Seq(0.3, 0.5, 0.7, 0.9).map(lit): _*))
        .as("threshold"))
    val pairs = ngramJaccard(spark, sfDir).select(col("doc_b"), col("jaccard"))
    val curve = pairs.join(broadcast(thr), col("jaccard") >= col("threshold"))
      .groupBy(col("threshold"))
      .agg(count(lit(1)).as("n_pairs"),
        countDistinct(col("doc_b")).as("n_docs_dropped"))
    thr.join(curve, Seq("threshold"), "left_outer")
      .select(col("threshold"),
        coalesce(col("n_pairs"), lit(0L)).as("n_pairs"),
        coalesce(col("n_docs_dropped"), lit(0L)).as("n_docs_dropped"))
  }

  val dedupCurveSql: String =
    s"""WITH $jaccardCtes, pairs AS (
       |  SELECT doc_b, ROUND(c / (nab - c), 6) AS jaccard FROM scored
       |  WHERE c / (nab - c) >= 0.1
       |), thr AS (
       |  SELECT CAST(UNNEST([0.3, 0.5, 0.7, 0.9]) AS DOUBLE) AS threshold
       |), curve AS (
       |  SELECT t.threshold, COUNT(*) AS n_pairs,
       |    COUNT(DISTINCT p.doc_b) AS n_docs_dropped
       |  FROM thr t JOIN pairs p ON p.jaccard >= t.threshold
       |  GROUP BY t.threshold
       |)
       |SELECT t.threshold,
       |  CAST(COALESCE(c.n_pairs, 0) AS BIGINT) AS n_pairs,
       |  CAST(COALESCE(c.n_docs_dropped, 0) AS BIGINT) AS n_docs_dropped
       |FROM thr t LEFT JOIN curve c USING (threshold)""".stripMargin

  // ---- near-dup cluster discovery -------------------------------------------

  /** Connected components over the Jaccard ≥ 0.5 near-dup graph: each
    * cluster of mutually-reachable near-dups gets the min doc_id as its
    * cluster id. Keep-first dedup drops docs pair-by-pair; cluster ids are
    * what a corpus curator actually audits (one row per duplicate family).
    *
    * Iterative min-label propagation: new_label(d) = min(label(d),
    * min(label(neighbors))) until fixpoint — converges in O(component
    * diameter) rounds, and near-dup families are shallow (a few hops), so
    * 3-5 rounds in practice. Each round is one shuffle (join + groupBy) on
    * doc_id; the driver holds only the per-round changed-count scalar. For
    * web-scale graphs with long chains, swap in large-star/small-star —
    * the per-round plan shape here is identical. Reuses the persisted pair
    * list (shared with d_ngram_jaccard / d_dedup_corpus). */
  /** Partition count for the iterated connected-components frames, sized
    * from the MEASURED edge count: small graphs still collapse to 8
    * partitions (per-round scheduling overhead dominates below that), but
    * the count grows ~1 partition per 2M edges (≈50 MB of (u,v) rows) so
    * no single localCheckpoint block outgrows executor memory — the fixed
    * coalesce(8) this replaces concentrated a hot corpus's 1.4B-edge
    * near-dup graph into 4.3 GiB single blocks at the sf10 probe,
    * starving every concurrent HashAggregate of unified memory. Capped at
    * spark.sql.shuffle.partitions because coalesce can only LOWER the
    * upstream groupBy's partition count — on a real cluster the cap IS the
    * scale lever (thousands of shuffle partitions), and the coalesce's
    * only job is collapsing small graphs below it. */
  private def ccLoopPartitions(spark: SparkSession, edges: Long): Int = {
    val shuffle = spark.conf.get("spark.sql.shuffle.partitions").toInt
    math.min(shuffle.toLong, math.max(8L, edges / 2000000L + 1L)).toInt
  }

  /** Edge-count ceiling for the single-task component fast path — the
    * same ~2M-edges-per-partition density ccLoopPartitions uses: below
    * ONE partition's worth of edges, an iterated distributed loop is pure
    * scheduler overhead (measured at sf0.1: 8-20 sub-second jobs and
    * their planning gaps per loop for a few-thousand-edge graph), while
    * union-find over ≤ 2M edges is tens of milliseconds in one task.
    * Above the ceiling the loops run their documented 100 TB shape
    * unchanged. */
  private def smallGraphMaxEdges(spark: SparkSession): Long =
    spark.conf.getOption("graft.cc.smallGraphMaxEdges").map(_.toLong)
      .getOrElse(2000000L)

  /** Exact component-min labels of a small undirected pair graph in ONE
    * task: union-find with smaller-root-wins linking, so every tree root
    * is its component's min id and `find` after all unions IS the label.
    * Output is identical to the iterated loops BY CONSTRUCTION —
    * (node, component-min) is a property of the graph, not of the
    * algorithm — pinned against both loop implementations in
    * DedupStarSpec/SmallGraphCcSpec. A deliberate exception to the
    * "builtins over closures" rule: this is a whole-graph algorithm below
    * the distribution threshold, the executor-side analogue of the binary
    * codecs in Multimodal (and the coalesce(1) reads the tiny persisted
    * pair blocks without a shuffle). */
  private def unionFindLabels(pairs: DataFrame, nodeCol: String): DataFrame = {
    val spark = pairs.sparkSession
    import spark.implicits._
    val cols = pairs.columns
    pairs.select(col(cols(0)).cast("long"), col(cols(1)).cast("long"))
      .as[(Long, Long)]
      .coalesce(1)
      .mapPartitions { it =>
        val parent = scala.collection.mutable.LongMap.empty[Long]
        def find(x: Long): Long = {
          var r = x
          while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
          var c = x // path compression
          while (parent.getOrElse(c, c) != r) {
            val n = parent.getOrElse(c, c); parent(c) = r; c = n
          }
          r
        }
        it.foreach { case (a, b) =>
          if (!parent.contains(a)) parent(a) = a
          if (!parent.contains(b)) parent(b) = b
          val ra = find(a); val rb = find(b)
          if (ra < rb) parent(rb) = ra
          else if (rb < ra) parent(ra) = rb
        }
        // materialize keys before the final finds: compression rewrites
        // values, and iterating a map while mutating it is undefined
        parent.keys.toArray.iterator.map(d => (d, find(d)))
      }
      .toDF(nodeCol, "lbl")
  }

  /** Component labels (doc, lbl = component-min doc_id) for every node of
    * the Jaccard ≥ 0.5 near-dup graph — the label loop shared by
    * dupClusters (family sizes) and dedupBest (keep-best selection). */
  def clusterLabels(spark: SparkSession, sfDir: String): DataFrame = {
    val pairs = ngramJaccard(spark, sfDir)
      .filter(col("jaccard") >= 0.5).select("doc_a", "doc_b")
    // the pair graph is usually orders of magnitude smaller than the
    // corpus; coalesce the iterated frames so each round's stages run a
    // handful of tasks instead of spark.sql.shuffle.partitions of them
    // (pure scheduling overhead at that size). The count is MEASURED from
    // the persisted pair list (cheap — blocks are materialized) so a hot
    // corpus can't pin a billion-edge graph to 8 partitions: see
    // ccLoopPartitions.
    //
    // localCheckpoint (not persist): truncates lineage, so round N's job
    // plans a CONSTANT-size DAG instead of re-optimizing N rounds of
    // joins — the round-2 bench showed the persist+extra-action version
    // latency-bound at 4+ tiny stages per round. Local (executor-block)
    // checkpointing is the right durability tier here: loss just recomputes
    // from the persisted pair list; under dynamic allocation use
    // reliable checkpoint() instead.
    val nPairs = pairs.count()
    // single-task exact fast path below the distribution threshold — the
    // loop below is the 100 TB shape, unchanged past it
    if (nPairs * 2 <= smallGraphMaxEdges(spark))
      return unionFindLabels(pairs.select("doc_a", "doc_b"), "doc")
    val ccParts = ccLoopPartitions(spark, nPairs * 2)
    val edges = pairs.unionByName(
      pairs.select(col("doc_b").as("doc_a"), col("doc_a").as("doc_b")))
      .coalesce(ccParts)
      .truncateLineage(true)
    var labels = edges.select(col("doc_a").as("doc"))
      .distinct().withColumn("lbl", col("doc"))
      .coalesce(ccParts)
      .truncateLineage(true)
    // convergence check without a join: labels only ever DECREASE, so the
    // label sum strictly decreases until fixpoint — one cheap aggregate
    // per round instead of a join + filter + count. The LAZY checkpoint
    // is materialized by that same aggregate action, so each round runs
    // exactly ONE job that both persists the round's frame and returns
    // the convergence scalar.
    var prevSum = Long.MinValue
    var rounds = 0
    var converged = false
    while (!converged && rounds < 50) {
      val viaNbr = edges
        .join(labels.withColumnRenamed("doc", "nbr"), col("doc_b") === col("nbr"))
        .select(col("doc_a").as("doc"), col("lbl"))
      val propagated = labels.select("doc", "lbl").unionByName(viaNbr)
        .groupBy("doc").agg(min("lbl").as("lbl"))
      // pointer jump (label-of-label): labels are doc ids, so following
      // one more hop per round turns linear convergence in the component
      // diameter into logarithmic — 3-4 rounds instead of 8+ on chains
      val parent = propagated
        .select(col("doc").as("p_doc"), col("lbl").as("p_lbl"))
      val next = propagated
        .join(parent, col("lbl") === col("p_doc"), "left")
        .select(col("doc"),
          least(col("lbl"), coalesce(col("p_lbl"), col("lbl"))).as("lbl"))
        .coalesce(ccParts)
        .truncateLineage(false)
      // coalesce: sum over an EMPTY frame is null — a corpus with no
      // near-dup pair must yield zero clusters, not an NPE
      val nextSum = next.agg(coalesce(sum("lbl"), lit(0L))).head().getLong(0)
      converged = nextSum == prevSum
      prevSum = nextSum
      // the convergence agg above materialized next's checkpoint blocks,
      // so the previous round's blocks are dead — drop them now instead
      // of leaving a round-count's worth of block sets to the
      // ContextCleaner (Bench runs every dedup query twice per session)
      val stale = labels
      labels = next
      stale.unpersist(false)
      rounds += 1
    }
    edges.unpersist(false) // final labels frame is checkpointed; lineage
    // no longer reaches edges
    System.err.println(s"[dupClusters] converged in $rounds rounds")
    labels
  }

  def dupClusters(spark: SparkSession, sfDir: String): DataFrame =
    clusterLabels(spark, sfDir)
      .groupBy(col("lbl").as("cluster_id"))
      .agg(count(lit(1)).as("n_docs"))

  val dupClustersSql: String = {
    s"""WITH RECURSIVE $jaccardCtes, pairs AS (
       |  SELECT doc_a, doc_b FROM scored
       |  WHERE ROUND(c / (nab - c), 6) >= 0.5
       |), edges AS (
       |  SELECT doc_a AS a, doc_b AS b FROM pairs
       |  UNION SELECT doc_b, doc_a FROM pairs
       |), reach(a, b) AS (
       |  SELECT a, b FROM edges
       |  UNION
       |  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
       |)
       |SELECT cluster_id, COUNT(*) AS n_docs FROM (
       |  SELECT a AS doc, LEAST(a, MIN(b)) AS cluster_id FROM reach GROUP BY a
       |) GROUP BY cluster_id""".stripMargin
  }

  // ---- benchmark contamination ----------------------------------------------

  /** The held-out set: treat one source as the "benchmark" corpus. */
  private val BenchSource = "src0"
  private val ContamK = 4

  /** Benchmark-contamination detection — the eval-hygiene operator every
    * training pipeline needs: which training docs share a 4-gram with the
    * held-out benchmark set, per source. Shape: explode to 60-bit hashed
    * shingles (long join keys, not strings), LEFT SEMI join training
    * shingles against the distinct benchmark shingle set — one shuffle on
    * the shingle hash each side, output is per-source doc counts. The
    * benchmark side is aggregated to DISTINCT hashes first, so its size is
    * its vocabulary, not its token count; no broadcast hint (AQE
    * broadcasts a small benchmark, shuffles a big one). */
  def contamination(spark: SparkSession, sfDir: String): DataFrame = {
    val base = toks(spark, sfDir)
    val hashed = expr(
      "transform(" + shinglesSql("t", ContamK) +
        ", x -> CAST(conv(substring(md5(x), 1, 15), 16, 10) AS BIGINT))")
    val sh = base.select(col("doc_id"), col("source"),
      explode(hashed).as("h"))
    val bench = sh.filter(col("source") === BenchSource)
      .select("h").distinct()
    val cont = sh.filter(col("source") =!= BenchSource)
      .join(bench, Seq("h"), "left_semi")
      .select("doc_id", "source").distinct()
    base.filter(col("source") =!= BenchSource)
      .groupBy(col("source")).agg(count(lit(1)).as("n_docs"))
      .join(cont.groupBy(col("source"))
        .agg(count(lit(1)).as("n_contaminated")), Seq("source"), "left_outer")
      .select(col("source"), col("n_docs"),
        coalesce(col("n_contaminated"), lit(0L)).as("n_contaminated"),
        round(coalesce(col("n_contaminated"), lit(0L)) / col("n_docs"), 4)
          .as("rate"))
  }

  /** Contamination with a broadcast Bloom-filter prune — the runtime-filter
    * pattern for the 100 TB asymmetric semi-join. [[contamination]] shuffles
    * EVERY training shingle to meet the benchmark vocabulary; here the
    * benchmark side is first condensed into a ~KB bloom sketch (built
    * distributed: per-partition blooms OR-merged by `stat.bloomFilter`),
    * shipped to every task inside the codegen'd `BloomFilterMightContain`
    * predicate, and ~99% of training shingles die row-locally BEFORE the
    * exchange (fpp=1%). Only bloom survivors shuffle into the exact
    * LEFT SEMI verify, so false positives never reach the output — the
    * sketch changes the plan, not the answer (same discipline as Spark's
    * own InjectRuntimeFilter, here explicit and oracle-checked). Emits
    * shingle-hit counts alongside doc counts. BloomContamSpec measures the
    * prune ratio and pins sketch determinism. */
  def bloomContamination(spark: SparkSession, sfDir: String): DataFrame = {
    val base = toks(spark, sfDir)
    val hashed = expr(
      "transform(" + shinglesSql("t", ContamK) +
        ", x -> CAST(conv(substring(md5(x), 1, 15), 16, 10) AS BIGINT))")
    val sh = base.select(col("doc_id"), col("source"),
      explode(hashed).as("h"))
    // the benchmark vocabulary is consumed THREE times (sizing count,
    // bloom build, exact verify): derive it from the TRACKED shared
    // (source, gram) cache — one persisted reduction serves this query,
    // the contamination matrix, and the novelty profile, and
    // clearPairCache keeps its release/refresh contract
    val bench = sourceGrams(spark, sfDir)
      .filter(col("source") === BenchSource).select("h")
    val bf = bench.stat.bloomFilter("h", math.max(bench.count(), 1L), 0.01)
    val bos = new java.io.ByteArrayOutputStream()
    bf.writeTo(bos)
    val mightContain = graft.plans.GraftFunctions.bloomMightContain(
      bos.toByteArray, col("h"))
    val hits = sh.filter(col("source") =!= BenchSource)
      .filter(mightContain) // row-local prune: no shuffle yet
      .join(bench, Seq("h"), "left_semi") // exact verify kills bloom FPs
    base.filter(col("source") =!= BenchSource)
      .groupBy(col("source")).agg(count(lit(1)).as("n_docs"))
      .join(hits.groupBy(col("source"))
          .agg(countDistinct(col("doc_id")).as("n_contaminated"),
            count(lit(1)).as("n_hit_shingles")),
        Seq("source"), "left_outer")
      .select(col("source"), col("n_docs"),
        coalesce(col("n_contaminated"), lit(0L)).as("n_contaminated"),
        coalesce(col("n_hit_shingles"), lit(0L)).as("n_hit_shingles"),
        round(coalesce(col("n_contaminated"), lit(0L)) / col("n_docs"), 4)
          .as("rate"))
  }

  val bloomContaminationSql: String = {
    val parts = (0 until ContamK).map(j => s"t[i+$j]").mkString(" || ' ' || ")
    s"""WITH toks AS (
       |  SELECT doc_id, source, regexp_extract_all(lower(text), '[a-z]+') AS t
       |  FROM documents
       |), sh AS (
       |  SELECT doc_id, source,
       |    ('0x' || substr(md5(unnest(list_distinct(list_transform(
       |      range(1, GREATEST(len(t) - ${ContamK - 2}, 1)),
       |      i -> $parts)))), 1, 15))::BIGINT AS h
       |  FROM toks
       |), bench AS (
       |  SELECT DISTINCT h FROM sh WHERE source = '$BenchSource'
       |), cont AS (
       |  SELECT sh.doc_id, sh.source FROM sh JOIN bench USING (h)
       |  WHERE sh.source <> '$BenchSource'
       |), per AS (
       |  SELECT source, COUNT(*) AS n_docs FROM documents
       |  WHERE source <> '$BenchSource' GROUP BY source
       |)
       |SELECT per.source, per.n_docs,
       |  COALESCE(c.nd, 0) AS n_contaminated,
       |  COALESCE(c.nh, 0) AS n_hit_shingles,
       |  ROUND(COALESCE(c.nd, 0) / per.n_docs, 4) AS rate
       |FROM per LEFT JOIN (
       |  SELECT source, COUNT(DISTINCT doc_id) AS nd,
       |    CAST(COUNT(*) AS BIGINT) AS nh
       |  FROM cont GROUP BY source
       |) c ON per.source = c.source""".stripMargin
  }

  val contaminationSql: String = {
    val parts = (0 until ContamK).map(j => s"t[i+$j]").mkString(" || ' ' || ")
    s"""WITH toks AS (
       |  SELECT doc_id, source, regexp_extract_all(lower(text), '[a-z]+') AS t
       |  FROM documents
       |), sh AS (
       |  SELECT doc_id, source,
       |    ('0x' || substr(md5(unnest(list_distinct(list_transform(
       |      range(1, GREATEST(len(t) - ${ContamK - 2}, 1)),
       |      i -> $parts)))), 1, 15))::BIGINT AS h
       |  FROM toks
       |), bench AS (
       |  SELECT DISTINCT h FROM sh WHERE source = '$BenchSource'
       |), cont AS (
       |  SELECT DISTINCT sh.doc_id, sh.source FROM sh JOIN bench USING (h)
       |  WHERE sh.source <> '$BenchSource'
       |), per AS (
       |  SELECT source, COUNT(*) AS n_docs FROM documents
       |  WHERE source <> '$BenchSource' GROUP BY source
       |)
       |SELECT per.source, per.n_docs,
       |  COALESCE(c.n, 0) AS n_contaminated,
       |  ROUND(COALESCE(c.n, 0) / per.n_docs, 4) AS rate
       |FROM per LEFT JOIN (
       |  SELECT source, COUNT(*) AS n FROM cont GROUP BY source
       |) c ON per.source = c.source""".stripMargin
  }

  // ---- chunk-level (exact-substring) dedup -----------------------------------

  private val ChunkTok = 10

  /** Chunk-level exact dedup — the C4/RefinedWeb "remove repeated
    * passages" pass, in the shuffle-friendly form: documents slice into
    * NON-overlapping 10-token chunks, chunks hash to 60-bit keys, and a
    * chunk whose hash appears ≥ 2 times corpus-wide is duplicate
    * boilerplate (the suffix-array exact-substring method finds the same
    * mass; chunk granularity trades boundary precision for a pure
    * hash-agg shape). Per-source: chunk count, duplicate-chunk
    * instances, duplicate ratio. Scale: chunking is row-local; the only
    * shuffles are the per-hash count and the unhinted count join (AQE
    * broadcasts it only if the distinct-chunk table fits). */
  def chunkDup(spark: SparkSession, sfDir: String): DataFrame = {
    // MEASURED NON-CHANGE (round 15): spreadToks here regressed steady
    // state 0.70 -> 1.87 s — the chunk explode hashes only ~tens of
    // thousands of ~100-token chunks (unlike the per-SHINGLE md5 passes
    // where the spread pays), so the added exchange plus the lost
    // exchange-reuse between the two chunk legs cost more than the
    // single-task tokenize it parallelized.
    val chunks = toks(spark, sfDir).select(col("source"),
      explode(expr(
        s"CASE WHEN size(t) >= $ChunkTok THEN " +
          s"transform(sequence(0, size(t) div $ChunkTok - 1), " +
          s"i -> concat_ws(' ', slice(t, i * $ChunkTok + 1, $ChunkTok))) " +
          "ELSE array() END")).as("chunk"))
      .select(col("source"),
        expr("CAST(conv(substring(md5(chunk), 1, 15), 16, 10) AS BIGINT)")
          .as("h"))
    val counts = chunks.groupBy(col("h")).agg(count(lit(1)).as("c"))
    chunks.join(counts, Seq("h"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_chunks"),
        sum(when(col("c") >= 2, 1L).otherwise(0L)).as("n_dup_chunks"),
        round(sum(when(col("c") >= 2, 1L).otherwise(0L)).cast("double")
          / count(lit(1)), 4).as("dup_ratio"))
  }

  val chunkDupSql: String =
    s"""WITH tk AS (
       |  SELECT doc_id, source, regexp_extract_all(lower(text), '[a-z]+') AS t
       |  FROM documents
       |), chunks AS (
       |  SELECT source,
       |    ('0x' || substr(md5(unnest(list_transform(
       |      range(0, len(t) // $ChunkTok),
       |      i -> array_to_string(
       |        t[i * $ChunkTok + 1 : i * $ChunkTok + $ChunkTok], ' ')))),
       |      1, 15))::BIGINT AS h
       |  FROM tk
       |), counts AS (
       |  SELECT h, COUNT(*) AS c FROM chunks GROUP BY h
       |)
       |SELECT source, COUNT(*) AS n_chunks,
       |  CAST(SUM(CASE WHEN c >= 2 THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_dup_chunks,
       |  ROUND(SUM(CASE WHEN c >= 2 THEN 1 ELSE 0 END) / COUNT(*), 4)
       |    AS dup_ratio
       |FROM chunks JOIN counts USING (h) GROUP BY source""".stripMargin

  // ---- keep-best dedup materialization ---------------------------------------

  /** Keep-BEST dedup — the curator's upgrade over keep-first: inside each
    * near-dup family (connected component of the Jaccard ≥ 0.5 graph),
    * keep the HIGHEST-quality member (TextAnalysis quality composite;
    * ties → lowest doc_id) and drop the rest. Keep-first optimizes for
    * determinism alone; keep-best preserves the best training signal per
    * family — the choice published curation pipelines actually make.
    * Shape: cluster labels (shared CC loop) join the row-local quality
    * scores, one per-family window (partitioned by family, never
    * global), left-anti style rollup per source. */
  def dedupBest(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir).select("doc_id", "source")
    val quality = TextAnalysis.qualityScore(spark, sfDir)
      .select(col("doc_id"), col("quality"))
    val labels = clusterLabels(spark, sfDir)
    val w = Window.partitionBy(col("lbl"))
      .orderBy(col("quality").desc, col("doc"))
    val dropped = labels
      .join(quality, labels("doc") === quality("doc_id"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") > 1)
      .select(col("doc").as("doc_id"), lit(1).as("is_dropped"))
    docs.join(quality, Seq("doc_id"))
      .join(dropped, Seq("doc_id"), "left_outer")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("is_dropped").isNull, 1L).otherwise(0L)).as("n_kept"),
        sum(when(col("is_dropped").isNull, 0L).otherwise(1L))
          .as("n_dropped"),
        round(avg(when(col("is_dropped").isNull, col("quality"))), 4)
          .as("avg_kept_quality"))
  }

  val dedupBestSql: String = {
    s"""WITH RECURSIVE $jaccardCtes, pairs AS (
       |  SELECT doc_a, doc_b FROM scored
       |  WHERE ROUND(c / (nab - c), 6) >= 0.5
       |), edges AS (
       |  SELECT doc_a AS a, doc_b AS b FROM pairs
       |  UNION SELECT doc_b, doc_a FROM pairs
       |), reach(a, b) AS (
       |  SELECT a, b FROM edges
       |  UNION
       |  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
       |), lbl AS (
       |  SELECT a AS doc_id, LEAST(a, MIN(b)) AS cluster_id
       |  FROM reach GROUP BY a
       |), qual AS (
       |  SELECT doc_id, ${TextAnalysis.qualityExprSql} AS quality
       |  FROM toks
       |), ranked AS (
       |  SELECT lbl.doc_id,
       |    row_number() OVER (PARTITION BY cluster_id
       |      ORDER BY qual.quality DESC, lbl.doc_id) AS rk
       |  FROM lbl JOIN qual ON lbl.doc_id = qual.doc_id
       |), dropped AS (
       |  SELECT doc_id FROM ranked WHERE rk > 1
       |)
       |SELECT d.source, COUNT(*) AS n_docs,
       |  CAST(SUM(CASE WHEN dr.doc_id IS NULL THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_kept,
       |  CAST(SUM(CASE WHEN dr.doc_id IS NULL THEN 0 ELSE 1 END) AS BIGINT)
       |    AS n_dropped,
       |  ROUND(AVG(CASE WHEN dr.doc_id IS NULL THEN q.quality END), 4)
       |    AS avg_kept_quality
       |FROM documents d
       |  JOIN qual q ON d.doc_id = q.doc_id
       |  LEFT JOIN dropped dr ON d.doc_id = dr.doc_id
       |GROUP BY d.source""".stripMargin
  }

  // ---- cross-source contamination matrix ------------------------------------

  /** Shared distinct (source, 4-gram-hash) table — the reduction both
    * [[crossContamination]] and [[sourceNovelty]] start from. Persisted
    * once per (session, SF) like the pair list and minhash signatures;
    * size is Σ per-source vocabularies (corpus-sublinear), tiny. */
  // fingerprint-keyed like pairCache (same regeneration-staleness hazard)
  private val sourceGramsCache = scala.collection.concurrent.TrieMap
    .empty[(SparkSession, String), (String, DataFrame, Array[String])]

  private def sourceGrams(spark: SparkSession, sfDir: String): DataFrame =
    sourceGramsWithSrcs(spark, sfDir)._1

  /** The shared grams table plus the corpus's sorted distinct source list
    * (bounded dimension, a handful of names). The list is collected once
    * as part of the shared build — paid by the build's timed entry,
    * dropped with the cache — so bitmask consumers don't re-run the
    * distinct job per invocation. */
  private def sourceGramsWithSrcs(
      spark: SparkSession, sfDir: String): (DataFrame, Array[String]) =
    sourceGramsCache.synchronized {
      val fp = docsFp(sfDir)
      sourceGramsCache.get((spark, sfDir)) match {
        case Some((`fp`, df, srcs)) => (df, srcs)
        case stale =>
          stale.foreach { case (_, df, _) => unpersistQuiet(df) }
          val hashed = expr(
            "transform(" + shinglesSql("t", ContamK) +
              ", x -> CAST(conv(substring(md5(x), 1, 15), 16, 10) AS BIGINT))")
          val sh = spreadToks(spark, sfDir)
            .select(col("source"), explode(hashed).as("h")).distinct()
            .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
          val srcs = sh.select(col("source")).distinct()
            .orderBy(col("source")).collect().map(_.getString(0))
          sourceGramsCache.put((spark, sfDir), (fp, sh, srcs))
          (sh, srcs)
      }
    }

  /** Force the shared (source, gram) table to materialize — Bench times
    * this as its own entry so consumer queries time steady-state plans. */
  def materializeSourceGrams(spark: SparkSession, sfDir: String): Unit = {
    sourceGrams(spark, sfDir).count(); ()
  }

  /** Pairwise source-overlap matrix — the "is source A leaking into
    * source B" audit across the WHOLE corpus, not just one held-out set:
    * distinct 4-gram hashes per source, self-joined on the hash, counted
    * per source pair. Scale: the join fans out per shingle hash only to
    * the sources containing it (≤ |sources| per hash, NOT corpus-sized),
    * and the output is |sources|² rows at most — safe at any corpus
    * size; the distinct-per-source reduction happens map-side first. */
  def crossContamination(spark: SparkSession, sfDir: String): DataFrame = {
    // Round 16 (VERDICT Next #3): bitmask-per-source. The source dimension
    // is bounded and tiny (a corpus has a handful of named sources), so the
    // per-hash source SET fits in one long: assign each source a bit by
    // sorted order (the |sources|-row collect below is bounded metadata,
    // the same economics as the BPE winner collect), bit_or the masks in
    // ONE codegen HashAggregate over ONE exchange of the grams table, and
    // expand pairs from the ≤2^|sources| DISTINCT masks — a second tiny
    // aggregate — never from per-hash rows. The round-15 shape paid two
    // full exchanges of the grams table (count census + semi-join back +
    // set-collect) plus an ObjectHashAggregate; this is one exchange of
    // (h, 8-byte mask) and zero imperative aggregates (guide §2.3/§2.4).
    // Equality: sh is distinct (source, h), bit order = sorted source
    // order, so the (i < j) bit pairs of a mask are exactly the
    // (source_a < source_b) pairs the old sorted-set expansion walked, and
    // n_shared = Σ over masks containing both bits of that mask's hash
    // count. Sources beyond 63 (never observed; corpus property, not an
    // SF property) fall back to the round-15 set-collect shape, and so
    // does an empty corpus (no source to take bit 0).
    val (sh, srcs) = sourceGramsWithSrcs(spark, sfDir)
    if (srcs.isEmpty || srcs.length > 63) {
      val multi = sh.groupBy(col("h")).agg(count(lit(1)).as("n"))
        .filter(col("n") > 1).select("h")
      sh.join(multi, Seq("h"))
        .groupBy(col("h"))
        .agg(sort_array(collect_set(col("source"))).as("srcs"))
        .select(explode(expr(
          "flatten(transform(srcs, (a, i) -> transform(" +
            "slice(srcs, i + 2, size(srcs)), " +
            "b -> struct(a AS source_a, b AS source_b))))")).as("p"))
        .groupBy(col("p.source_a").as("source_a"),
          col("p.source_b").as("source_b"))
        .agg(count(lit(1)).as("n_shared"))
    } else {
      // source -> bit and bit -> source as literal when-chains: pure
      // codegen, no map/array lookups, constant-folded per plan
      val maskOf = srcs.zipWithIndex.tail.foldLeft(
        when(col("source") === srcs(0), 1L)) { case (acc, (s, i)) =>
          acc.when(col("source") === s, 1L << i)
      }
      def nameOf(bit: org.apache.spark.sql.Column) =
        srcs.zipWithIndex.tail.foldLeft(
          when(bit === 0, srcs(0))) { case (acc, (s, i)) =>
            acc.when(bit === i, s)
        }
      sh.select(col("h"), maskOf.as("m"))
        .groupBy(col("h")).agg(expr("bit_or(m)").as("m"))
        .filter(expr("bit_count(m)") > 1)
        .groupBy(col("m")).agg(count(lit(1)).as("n"))
        .select(col("n"), expr(
          "filter(sequence(0, 62), i -> ((m >> i) & 1) = 1)").as("bits"))
        .select(col("n"), explode(expr(
          "flatten(transform(bits, (a, ai) -> transform(" +
            "slice(bits, ai + 2, size(bits)), " +
            "b -> struct(a AS ia, b AS ib))))")).as("p"))
        .groupBy(nameOf(col("p.ia")).as("source_a"),
          nameOf(col("p.ib")).as("source_b"))
        .agg(sum(col("n")).as("n_shared"))
    }
  }

  val crossContaminationSql: String = {
    val parts = (0 until ContamK).map(j => s"t[i+$j]").mkString(" || ' ' || ")
    s"""WITH toks AS (
       |  SELECT doc_id, source, regexp_extract_all(lower(text), '[a-z]+') AS t
       |  FROM documents
       |), sh AS (
       |  SELECT DISTINCT source,
       |    ('0x' || substr(md5(unnest(list_distinct(list_transform(
       |      range(1, GREATEST(len(t) - ${ContamK - 2}, 1)),
       |      i -> $parts)))), 1, 15))::BIGINT AS h
       |  FROM toks
       |)
       |SELECT a.source AS source_a, b.source AS source_b,
       |  COUNT(*) AS n_shared
       |FROM sh a JOIN sh b ON a.h = b.h AND a.source < b.source
       |GROUP BY 1, 2""".stripMargin
  }

  /** Source-novelty profile — the inverse view of the contamination
    * matrix: per source, what fraction of its distinct 4-grams appears
    * NOWHERE else in the corpus. High novelty = the source adds unique
    * signal; low novelty = it mostly restates the rest of the mix —
    * the number a data-mixing decision actually weighs. Same
    * distinct-(source, hash) reduction as d_cross_contam; the per-hash
    * source count is a second tiny agg, never a join fan-out. */
  def sourceNovelty(spark: SparkSession, sfDir: String): DataFrame = {
    // Same one-pass shape as [[crossContamination]] (round 15, guide
    // §2.4): the old plan aggregated per-hash source counts in one pass,
    // then joined them BACK onto the grams table (a second full pass +
    // a vocabulary-sized build side). Grouping by h once and exploding
    // the per-hash source list carries each gram through one exchange
    // and derives n_sources = size(list) row-locally — identical counts
    // (sh is distinct (source, h), so list size IS the source count).
    // Round-15 sf10 finding: the collect_list formulation hit the same
    // ObjectHashAggregate sort fallback as crossContamination (6.9 →
    // 17.0 s at sf10). Fully declarative now: a gram with global count 1
    // belongs to exactly ONE source, so min(source) of its rows IS that
    // source — one codegen groupBy(h) yields (count, owner), the novel
    // counts roll up per owner, and per-source totals come from their
    // own codegen aggregate. No collected lists anywhere; counts
    // identical by the uniqueness argument.
    val sh = sourceGrams(spark, sfDir)
    val novel = sh.groupBy(col("h"))
      .agg(count(lit(1)).as("n"), min(col("source")).as("source"))
      .filter(col("n") === 1)
      .groupBy(col("source")).agg(count(lit(1)).as("n_novel"))
    sh.groupBy(col("source")).agg(count(lit(1)).as("n_hashes"))
      .join(novel, Seq("source"), "left_outer")
      .select(col("source"), col("n_hashes"),
        coalesce(col("n_novel"), lit(0L)).as("n_novel"),
        round(coalesce(col("n_novel"), lit(0L)).cast("double")
          / col("n_hashes"), 4).as("novelty_ratio"))
  }

  val sourceNoveltySql: String = {
    val parts = (0 until ContamK).map(j => s"t[i+$j]").mkString(" || ' ' || ")
    s"""WITH tk AS (
       |  SELECT doc_id, source, regexp_extract_all(lower(text), '[a-z]+') AS t
       |  FROM documents
       |), sh AS (
       |  SELECT DISTINCT source,
       |    ('0x' || substr(md5(unnest(list_distinct(list_transform(
       |      range(1, GREATEST(len(t) - ${ContamK - 2}, 1)),
       |      i -> $parts)))), 1, 15))::BIGINT AS h
       |  FROM tk
       |), spread AS (
       |  SELECT h, COUNT(*) AS n_sources FROM sh GROUP BY h
       |)
       |SELECT source, COUNT(*) AS n_hashes,
       |  CAST(SUM(CASE WHEN n_sources = 1 THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_novel,
       |  ROUND(SUM(CASE WHEN n_sources = 1 THEN 1 ELSE 0 END) / COUNT(*), 4)
       |    AS novelty_ratio
       |FROM sh JOIN spread USING (h) GROUP BY source""".stripMargin
  }

  // ---- connected components, large-star/small-star --------------------------

  private def symmetrize(e: DataFrame): DataFrame =
    e.select(col("u"), col("v"))
      .unionByName(e.select(col("v").as("u"), col("u").as("v")))
      .filter(col("u") =!= col("v")).distinct()

  /** Large-star: every neighbor v > u re-links to m = min(N(u) ∪ {u}). */
  private def largeStar(e: DataFrame): DataFrame = {
    val m = e.groupBy("u").agg(min(least(col("v"), col("u"))).as("m"))
    e.join(m, "u").filter(col("v") > col("u"))
      .select(col("v").as("u"), col("m").as("v"))
  }

  /** Small-star: every neighbor v < u (and u itself) links to
    * m = min of that down-set. */
  private def smallStar(e: DataFrame): DataFrame = {
    val down = e.filter(col("v") < col("u"))
    val m = down.groupBy("u").agg(min(least(col("v"), col("u"))).as("m"))
    down.join(m, "u")
      .select(col("v").as("u"), col("m").as("v"))
      .unionByName(m.select(col("u"), col("m").as("v")))
  }

  /** The same near-dup clusters via LARGE-STAR/SMALL-STAR (Kiveris et
    * al., "Connected Components in MapReduce and Beyond") — the
    * formulation whose round count is O(log n) on ANY graph shape,
    * including the long chains where min-label + one pointer jump
    * (dupClusters) degrades to O(diameter/2). Registered as its own
    * query against the identical recursive-CTE oracle, and asserted
    * equal to dupClusters output in DedupStarSpec — this is the
    * documented 100 TB path, kept runnable and verified, not a comment.
    * Per-round shape: two groupBy+join stages on the (tiny) edge set,
    * one lazy localCheckpoint materialized by the convergence checksum
    * action. */
  /** Generic large-star/small-star component labels over an undirected
    * pair list (columns u, v). Returns (u, lbl = component min).
    *
    * `graft.star.checkpointEvery` (default 1) sets the lineage-truncation
    * cadence: N means only every Nth round localCheckpoints; skipped
    * rounds leave their two-stage plan on top of the last checkpoint, so
    * the next checksum/checkpoint job re-executes them (the edge set is
    * tiny after blocking, so that trade is scheduler overhead vs compute).
    * Measured at sf0.1 (5 runs each): cadence 2 is ~5×
    * SLOWER (median 10.0 s vs 2.1 s; min 8.8 vs 1.9) — skipped rounds
    * re-execute inside both the convergence checksum and the next
    * checkpoint job, and that recomputation dwarfs the per-round
    * checkpoint cost. Default stays 1 (checkpoint every round); the
    * bench swing on this entry is scheduler noise, not checkpoint
    * cadence (BENCH_NOTES round 9). */
  def starComponents(pairs: DataFrame): DataFrame = {
    val every = pairs.sparkSession.conf
      .getOption("graft.star.checkpointEvery").map(_.toInt).getOrElse(1)
    require(every >= 1, s"graft.star.checkpointEvery must be >= 1, got $every")
    // Materialize the symmetrized edge set ONCE at its upstream
    // partitioning (counting the raw `pairs` plan here could re-execute an
    // expensive pair-scoring subtree), then size the loop's coalesce from
    // the measured edge count — the count itself is a cheap scan of the
    // just-written checkpoint blocks.
    var edges = symmetrize(pairs).truncateLineage(true)
    val nEdges = edges.count()
    if (nEdges <= smallGraphMaxEdges(pairs.sparkSession)) {
      // single-task exact fast path (see unionFindLabels); the star loop
      // below is the documented 100 TB shape, unchanged past the
      // threshold. The symmetrized checkpoint already materialized for
      // the count — feed it so the pair-scoring subtree isn't re-run
      // (its blocks must outlive the returned lazy frame, so no
      // unpersist here; the loop's exit leaves its final round's
      // checkpoint alive the same way).
      return unionFindLabels(edges.select("u", "v"), "u")
    }
    val ccParts = ccLoopPartitions(pairs.sparkSession, nEdges)
    var prevSum = Long.MinValue
    var prevCnt = -1L
    var rounds = 0
    var converged = false
    while (!converged && rounds < 50) {
      val raw = symmetrize(smallStar(symmetrize(largeStar(edges))))
        .coalesce(ccParts)
      val next =
        if (rounds % every == every - 1) raw.truncateLineage(false) else raw
      // convergence: edge-set checksum (count + order-independent
      // bit_xor of per-edge hashes — xor can't overflow under ANSI) —
      // stable set ⇒ star graphs reached; the checksum action is also
      // what materializes the round's checkpoint (one job/round)
      val row = next.agg(
        coalesce(expr("bit_xor(xxhash64(u, v))"), lit(0L)),
        count(lit(1))).head()
      val (s, c) = (row.getLong(0), row.getLong(1))
      converged = s == prevSum && c == prevCnt
      prevSum = s; prevCnt = c
      // checksum action materialized next; previous round's blocks are
      // dead — release them eagerly (see clusterLabels note)
      val stale = edges
      edges = next
      stale.unpersist(false)
      rounds += 1
    }
    System.err.println(s"[starComponents] converged in $rounds rounds")
    symmetrize(edges)
      .groupBy(col("u"))
      .agg(min(least(col("v"), col("u"))).as("lbl"))
  }

  def dupClustersStar(spark: SparkSession, sfDir: String): DataFrame =
    starComponents(ngramJaccard(spark, sfDir)
        .filter(col("jaccard") >= 0.5)
        .select(col("doc_a").as("u"), col("doc_b").as("v")))
      .groupBy(col("lbl").as("cluster_id"))
      .agg(count(lit(1)).as("n_docs"))

  // ---- Split-leakage audit ---------------------------------------------------

  /** Near-dup pairs that CROSS a train/val/test boundary — the
    * contamination a hash split cannot prevent (hashing assigns each doc
    * independently, so the two halves of a near-dup pair land in
    * different splits with p ≈ 2·p_train·p_test). Reuses the SHARED
    * persisted pair list and the exact split-bucket formula of
    * t_hash_split (md5 of the stable doc key — reproducible on any
    * cluster/partitioning), so at 100 TB this audit costs two doc_id
    * joins against an artifact the pipeline already built. Rows with
    * split_lo ≠ split_hi are the leakage; n_dedup_tier counts the pairs
    * a jaccard ≥ 0.5 dedup pass would have caught — the actionable
    * number (run dedup BEFORE splitting, or move those docs). No
    * broadcast hint on the split frame: it grows with the corpus. */
  def splitLeakage(spark: SparkSession, sfDir: String): DataFrame = {
    val bucket =
      (conv(substring(md5(concat(lit("doc"), col("doc_id"))), 1, 8), 16, 10)
        .cast("long") % 100)
    val split = graft.model.Tables.documents(spark, sfDir)
      .select(col("doc_id"),
        when(bucket < 80, "train").when(bucket < 90, "val")
          .otherwise("test").as("split"))
    pairList(spark, sfDir).filter(col("jaccard") >= 0.1)
      .join(split.as("sa"), col("doc_a") === col("sa.doc_id"))
      .join(split.as("sb"), col("doc_b") === col("sb.doc_id"))
      .select(least(col("sa.split"), col("sb.split")).as("split_lo"),
        greatest(col("sa.split"), col("sb.split")).as("split_hi"),
        col("jaccard"))
      .groupBy(col("split_lo"), col("split_hi"))
      .agg(count(lit(1)).as("n_pairs"),
        sum(when(col("jaccard") >= 0.5, 1L).otherwise(0L)).as("n_dedup_tier"))
  }

  val splitLeakageSql: String =
    s"""WITH $jaccardCtes, sp AS (
       |  SELECT doc_id,
       |    CASE WHEN bucket < 80 THEN 'train'
       |         WHEN bucket < 90 THEN 'val' ELSE 'test' END AS split
       |  FROM (
       |    SELECT doc_id,
       |      ('0x' || substr(md5('doc' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
       |        % 100 AS bucket
       |    FROM documents)
       |)
       |SELECT LEAST(sa.split, sb.split) AS split_lo,
       |  GREATEST(sa.split, sb.split) AS split_hi,
       |  COUNT(*) AS n_pairs,
       |  CAST(SUM(CASE WHEN c / (nab - c) >= 0.5 THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_dedup_tier
       |FROM scored
       |  JOIN sp sa ON doc_a = sa.doc_id
       |  JOIN sp sb ON doc_b = sb.doc_id
       |WHERE c / (nab - c) >= 0.1
       |GROUP BY 1, 2""".stripMargin

  // ---- Detector-ensemble agreement -------------------------------------------

  /** Three-detector ensemble census at the dedup tier: every pair flagged
    * by exact-Jaccard (≥ 0.5), MinHash-LSH (est ≥ 0.5) or SimHash
    * (hamming ≤ $SimHamMax), counted by WHICH detectors found it
    * (votes 1-3 plus a per-detector bitmask string like "J+M"). The
    * 3-detector generalization of d_modal_agreement, and the table a
    * curator reads to pick the production detector set at 100 TB: pairs
    * at votes=3 are safe to dedup on the cheapest detector alone; a fat
    * single-detector row means that detector's threshold is the outlier.
    * All three pair lists are already-built artifacts (the Jaccard side
    * is the shared persisted list), so the census costs two full-outer
    * joins of small pair tables. */
  def detectorVotes(spark: SparkSession, sfDir: String): DataFrame = {
    val j = ngramJaccard(spark, sfDir).filter(col("jaccard") >= 0.5)
      .select(col("doc_a"), col("doc_b"), lit(1).as("j"))
    val m = minhashLsh(spark, sfDir).filter(col("est_jaccard") >= 0.5)
      .select(col("doc_a"), col("doc_b"), lit(1).as("m"))
    val s = simhashPairs(spark, sfDir)
      .select(col("doc_a"), col("doc_b"), lit(1).as("s"))
    j.join(m, Seq("doc_a", "doc_b"), "full_outer")
      .join(s, Seq("doc_a", "doc_b"), "full_outer")
      .select(
        concat_ws("+",
          when(col("j").isNotNull, "J"), when(col("m").isNotNull, "M"),
          when(col("s").isNotNull, "S")).as("detectors"),
        (coalesce(col("j"), lit(0)) + coalesce(col("m"), lit(0)) +
          coalesce(col("s"), lit(0))).cast("long").as("votes"))
      .groupBy(col("detectors"), col("votes"))
      .agg(count(lit(1)).as("n_pairs"))
  }

  val detectorVotesSql: String =
    s"""WITH jq AS (
       |$ngramJaccardSql
       |), mq AS (
       |$minhashLshSql
       |), sq AS (
       |$simhashPairsSql
       |), jp AS (
       |  SELECT doc_a, doc_b, 1 AS j FROM jq WHERE jaccard >= 0.5
       |), mp AS (
       |  SELECT doc_a, doc_b, 1 AS m FROM mq WHERE est_jaccard >= 0.5
       |), spp AS (
       |  SELECT doc_a, doc_b, 1 AS s FROM sq
       |), u AS (
       |  SELECT doc_a, doc_b FROM jp
       |  UNION SELECT doc_a, doc_b FROM mp
       |  UNION SELECT doc_a, doc_b FROM spp
       |), v AS (
       |  SELECT u.doc_a, u.doc_b, jp.j, mp.m, spp.s
       |  FROM u
       |    LEFT JOIN jp ON u.doc_a = jp.doc_a AND u.doc_b = jp.doc_b
       |    LEFT JOIN mp ON u.doc_a = mp.doc_a AND u.doc_b = mp.doc_b
       |    LEFT JOIN spp ON u.doc_a = spp.doc_a AND u.doc_b = spp.doc_b
       |)
       |SELECT concat_ws('+',
       |    CASE WHEN j IS NOT NULL THEN 'J' END,
       |    CASE WHEN m IS NOT NULL THEN 'M' END,
       |    CASE WHEN s IS NOT NULL THEN 'S' END) AS detectors,
       |  CAST(COALESCE(j, 0) + COALESCE(m, 0) + COALESCE(s, 0) AS BIGINT)
       |    AS votes,
       |  COUNT(*) AS n_pairs
       |FROM v GROUP BY 1, 2""".stripMargin

  // ---- normalization-sensitivity audit --------------------------------------

  /** How much exact dedup depends on text canonicalization, per source:
    * duplicate counts under three progressively looser keys — the raw
    * bytes, a whitespace-canonical form (lowercase + runs of whitespace
    * collapsed + trimmed), and the token fingerprint d_exact_stats
    * dedups on. `ws_only_dups` / `token_only_dups` are the duplicates
    * each normalization step newly exposes; a big `token_only_dups`
    * says punctuation/formatting variants dominate the dup mass and a
    * byte-keyed (or case-keyed) dedup pass would silently keep them.
    * Shape for scale: one corpus pass, three codegen'd md5 keys folded
    * in a single per-source aggregate — no joins, no shuffle beyond the
    * source-grain rollup. */
  def normSensitivity(spark: SparkSession, sfDir: String): DataFrame =
    toks(spark, sfDir)
      .select(col("source"), col("text"), fingerprint(col("t")).as("fp"),
        md5(trim(regexp_replace(lower(col("text")), "\\s+", " ")))
          .as("wfp"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        (count(lit(1)) - countDistinct(col("text"))).as("raw_dups"),
        (count(lit(1)) - countDistinct(col("wfp"))).as("ws_dups"),
        (count(lit(1)) - countDistinct(col("fp"))).as("token_dups"))
      .withColumn("ws_only_dups", col("ws_dups") - col("raw_dups"))
      .withColumn("token_only_dups", col("token_dups") - col("ws_dups"))

  val normSensitivitySql: String =
    """SELECT source, COUNT(*) AS n_docs,
      |  COUNT(*) - COUNT(DISTINCT text) AS raw_dups,
      |  COUNT(*) - COUNT(DISTINCT md5(trim(
      |    regexp_replace(lower(text), '\s+', ' ', 'g')))) AS ws_dups,
      |  COUNT(*) - COUNT(DISTINCT md5(array_to_string(
      |    regexp_extract_all(lower(text), '[a-z]+'), ' '))) AS token_dups,
      |  (COUNT(*) - COUNT(DISTINCT md5(trim(
      |    regexp_replace(lower(text), '\s+', ' ', 'g')))))
      |    - (COUNT(*) - COUNT(DISTINCT text)) AS ws_only_dups,
      |  (COUNT(*) - COUNT(DISTINCT md5(array_to_string(
      |    regexp_extract_all(lower(text), '[a-z]+'), ' '))))
      |    - (COUNT(*) - COUNT(DISTINCT md5(trim(
      |      regexp_replace(lower(text), '\s+', ' ', 'g'))))) AS token_only_dups
      |FROM documents GROUP BY source""".stripMargin

  def queries: Map[String, Q] = Map(
    "d_norm_sensitivity" -> Q(normSensitivitySql)(normSensitivity),
    "d_exact_stats"   -> Q(exactStatsSql)(exactStats),
    "d_ngram_jaccard" -> Q(ngramJaccardSql)(ngramJaccard),
    "d_minhash_lsh"   -> Q(minhashLshSql)(minhashLsh),
    "d_minhash_recall"-> Q(minhashRecallSql)(minhashRecall),
    "d_simhash_pairs" -> Q(simhashPairsSql)(simhashPairs),
    "d_dedup_corpus"  -> Q(dedupCorpusSql)(dedupCorpus),
    "d_dedup_curve"   -> Q(dedupCurveSql)(dedupCurve),
    "d_delta_dedup"   -> Q(deltaDedupSql)(deltaDedup),
    "d_upsert_merge"  -> Q(upsertMergeSql)(upsertMerge),
    "d_dedup_best"    -> Q(dedupBestSql)(dedupBest),
    "d_chunk_dup"     -> Q(chunkDupSql)(chunkDup),
    "d_dup_clusters"  -> Q(dupClustersSql)(dupClusters),
    "d_dup_clusters_star" -> Q(dupClustersSql)(dupClustersStar),
    "d_cross_contam"  -> Q(crossContaminationSql)(crossContamination),
    "d_source_novelty"-> Q(sourceNoveltySql)(sourceNovelty),
    "d_containment"   -> Q(containmentPairsSql)(containmentPairs),
    "d_edit_neardup"  -> Q(editNearDupSql)(editNearDup),
    "d_contamination" -> Q(contaminationSql)(contamination),
    "d_bloom_contam" -> Q(bloomContaminationSql)(bloomContamination),
    "d_split_leakage" -> Q(splitLeakageSql)(splitLeakage),
    "d_detector_votes" -> Q(detectorVotesSql)(detectorVotes))
}
