package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Parquet table readers + session tuning shared by every operator.
  *
  * The driver hands each query an arbitrary `SparkSession` (Verify, Bench,
  * smoke), so the session confs the engine relies on are (re)applied here at
  * read time:
  *
  *  - `nanosAsLong`: some testdata generations carry events.ts as parquet
  *    TIMESTAMP(NANOS) which Spark 4 otherwise refuses
  *    (`PARQUET_TYPE_ILLEGAL`); read as raw long nanoseconds. Either way
  *    the engine-internal contract is `ts` = long NANOSECONDS since epoch
  *    (see `normalizeEventsTs`), so every consumer derives microseconds
  *    with one integer division and the DuckDB oracle's `epoch_us(ts)`
  *    agrees bit-for-bit.
  *  - ANSI off: out-of-domain casts degrade to NULL, matching the
  *    reference's tolerant decode path (reference src/forwarder/mod.rs:82-126
  *    skips malformed fields instead of aborting the stream).
  *  - AQE on: runtime coalescing + skew-join splitting is the 100 TB skew
  *    story for the shuffle-heavy operators (LSH buckets, sessionize).
  */
object Tables {
  def tune(spark: SparkSession): SparkSession = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.ansi.enabled", "false")
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    // The ts contract must be self-contained: normalizeEventsTs casts a
    // TIMESTAMP_NTZ column through the SESSION zone, so an embedder on a
    // non-UTC machine would shift every event instant unless UTC is
    // pinned here too, not only in Bench/Verify.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark
  }

  private def rd(spark: SparkSession, dir: String, name: String): DataFrame =
    tune(spark).read.parquet(s"$dir/$name.parquet")

  /** Engine-internal events.ts contract: long NANOSECONDS since epoch.
    *
    * The testdata generator has shipped `ts` both as parquet
    * TIMESTAMP(NANOS) — which `nanosAsLong` surfaces as the raw long the
    * contract wants — and as TIMESTAMP(MICROS), which Spark reads as
    * TIMESTAMP_NTZ. Normalize the latter at the read boundary
    * (`unix_micros(cast(.. as timestamp)) * 1000` under the UTC session
    * zone, the same instant DuckDB's naive `epoch_us(ts)` computes) so
    * every downstream operator keeps the one `ts div 1000` arithmetic.
    * Scan-level projection, no shuffle; schema-adaptive so both data
    * generations read correctly. */
  private[graft] def normalizeEventsTs(df: DataFrame): DataFrame =
    df.schema.find(_.name == "ts").map(_.dataType) match {
      case Some(org.apache.spark.sql.types.LongType) | None => df
      case _ => df.withColumn("ts",
        org.apache.spark.sql.functions.expr(
          "unix_micros(cast(ts as timestamp)) * 1000"))
    }

  /** Source-parallelism guard for tables that feed heavy per-row compute
    * (decode, shingle hashing, vector math): the local testdata is one
    * single-row-group parquet file per table, so the scan yields ONE
    * partition and everything upstream of the first shuffle runs on one
    * core. When (and only when) the scan has fewer partitions than cores,
    * rebalance first — on a production 100 TB table the scan has thousands
    * of row groups and this is a no-op, so no shuffle is added at scale. */
  /** The scan-width probe (`df.rdd`) plans the query twice, so its verdict
    * is memoized for the session's lifetime — every registered query
    * re-reads its tables through here, and 30+ queries × a replan each
    * would cost more than the rebalance saves. Weak session keys: a
    * stopped session's entries (and the session itself) stay collectable,
    * so a driver cycling sessions does not leak. The verdict is
    * intentionally session-stable; files added mid-session keep the first
    * probe's answer. */
  private val spreadDecisions: java.util.Map[SparkSession, scala.collection.mutable.Map[String, Boolean]] =
    java.util.Collections.synchronizedMap(
      new java.util.WeakHashMap[SparkSession, scala.collection.mutable.Map[String, Boolean]]())

  private def spread(spark: SparkSession, df: DataFrame, key: String): DataFrame = {
    val cores = spark.sparkContext.defaultParallelism
    val perSession = spreadDecisions.synchronized {
      var m = spreadDecisions.get(spark)
      if (m == null) {
        m = scala.collection.concurrent.TrieMap.empty[String, Boolean]
        spreadDecisions.put(spark, m)
      }
      m
    }
    // bounded-collect: plan-time metadata probe only (partition COUNT,
    // no rows move); memoized per session. CollectGateSpec-audited.
    val narrow = perSession.getOrElseUpdate(key, df.rdd.getNumPartitions < cores)
    if (narrow) df.repartition(cores) else df
  }

  /** Deployment path for [[pinFrame]]'s reliable checkpoint:
    * `GRAFT_RANK_PIN_DIR` (env or `graft.rank.pin.dir` sysprop).
    * Cluster posture: localCheckpoint stores blocks on executors, so an
    * executor loss kills the job instead of recomputing; a deployment
    * sets this to a fault-tolerant path (HDFS/object store) and the pin
    * becomes a RELIABLE checkpoint — same single-materialization
    * guarantee, executor-loss tolerant. Local runs default to
    * localCheckpoint (no dir to configure, no write amplification). */
  def rankPinDir: Option[String] =
    sys.env.get("GRAFT_RANK_PIN_DIR")
      .orElse(Option(System.getProperty("graft.rank.pin.dir")))
      .map(_.trim).filter(_.nonEmpty)

  /** Materialize a frame once and cut its lineage, so a frame with several
    * consumers is computed once instead of once per consumer. Callers:
    * [[pinRankBuckets]], dedup_snm's (doc_id, rnk) frame and the SCD2
    * cursor in Forwarder.scd2Merged (the incremental-maintenance
    * checkpoint split itself is not pinned: a lineage cut of the full
    * keyed frame costs more than the per-branch cache reads it saves).
    * Local runs localCheckpoint; GRAFT_RANK_PIN_DIR deployments get a
    * reliable checkpoint. */
  def pinFrame(df: DataFrame): DataFrame = rankPinDir match {
    case Some(d) =>
      val sc = df.sparkSession.sparkContext
      // setCheckpointDir creates a fresh UUID subdir per call — set it
      // once; an already-configured context dir is respected as-is
      if (sc.getCheckpointDir.isEmpty) sc.setCheckpointDir(d)
      df.checkpoint(eager = true)
    case None => df.localCheckpoint(true)
  }

  /** `df` range-partitioned on `order` into `buckets` partitions, each
    * row tagged with its bucket `pid`, pinned so every consumer sees one
    * set of range bounds (see [[globalRank]]). */
  def pinRankBuckets(df: DataFrame, buckets: Int, order: Column*): DataFrame =
    pinFrame(df.repartitionByRange(buckets, order: _*)
      .withColumn("pid", spark_partition_id()))

  /** The one distributed global rank: adds `rnk`, 1-based over `order`
    * within each `within` group (global when `within` is empty), and
    * `n_total`, the row count of that group — the semantics of
    * `row_number() OVER (PARTITION BY within ORDER BY order)` without a
    * single-partition sort at any width.
    *
    * Plan: range-partition on (within, order) into
    * [[Knobs.layoutRankBuckets]] buckets, row_number inside each
    * (within, bucket), and add the count of every earlier bucket of the
    * same group from a bucket-sized offset frame joined by broadcast.
    * `order` must end in a unique id: over a total order the rank does
    * not depend on where the range bounds fall, so the bucket count
    * cannot change a result.
    *
    * Pin invariant: the rank and offset branches both read the bucketed
    * frame, and without a pin each branch runs its OWN
    * repartitionByRange. RangePartitioner samples per input partition,
    * so two runs over different upstream layouts can draw different
    * bounds, and `spark_partition_id()` then tags inconsistent pids:
    * local ranks from one layout joined to offsets from another
    * (observed at sf0.1: curriculum_plan emitted 11 "deciles"; sf0.01
    * coalesces to one partition and hides it). [[pinRankBuckets]]
    * materializes ONE layout for both branches.
    *
    * `rnk` is `offset + row_number`, never a running sum, so it stays
    * non-nullable in the caller's schema. */
  def globalRank(df: DataFrame, within: Seq[String], order: Column*): DataFrame = {
    val bucketed = pinRankBuckets(df, Knobs.layoutRankBuckets,
      within.map(col) ++ order: _*)
    val group = within.map(col)
    val keys = within :+ "pid"
    val ranked = bucketed.withColumn("local_rn", row_number().over(
      Window.partitionBy(keys.map(col): _*).orderBy(order: _*)))
    val offsets = bucketed.groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("n_in_bucket"))
      .withColumn("offset", coalesce(sum("n_in_bucket").over(
        Window.partitionBy(group: _*).orderBy("pid")
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .withColumn("n_total", sum("n_in_bucket").over(
        Window.partitionBy(group: _*)
          .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
      .select((keys :+ "offset" :+ "n_total").map(col): _*)
    ranked.join(broadcast(offsets), keys)
      .select(df.columns.map(col) :+
        (col("offset") + col("local_rn")).as("rnk") :+ col("n_total"): _*)
  }

  /** Memoized persist: build + `persist(MEMORY_AND_DISK)` a frame at most
    * once per (session, key). Spark's CacheManager already dedupes cached
    * data by plan, but re-calling persist() on a freshly built copy of the
    * same plan logs "Asked to cache already cached data" per call and keeps
    * re-deriving the plan; memoizing the DataFrame object itself makes the
    * shared intermediate (decoded CDC feed, shingle sets, quantized
    * vectors) genuinely build-once.
    *
    * Lifetime: unlike [[spreadDecisions]] (whose Boolean values let the
    * WeakHashMap key die), a cached DataFrame strongly references its own
    * SparkSession, so weak keys alone can NEVER collect these entries.
    * Instead every call purges entries whose underlying SparkContext has
    * stopped (their cached blocks died with the executors). Sessions
    * cycled over one long-lived context share that context's CacheManager
    * anyway. */
  private val persistCache: java.util.Map[SparkSession, scala.collection.concurrent.TrieMap[String, DataFrame]] =
    java.util.Collections.synchronizedMap(
      new java.util.WeakHashMap[SparkSession, scala.collection.concurrent.TrieMap[String, DataFrame]]())

  /** Build-time ledger: every memoized frame's materialization SELF time
    * (its wall minus the walls of the builds nested in it), in build
    * order, drained by Bench into `_build:<key>` report lines. Without
    * this, a shared index build is billed to whichever query happens to
    * touch it first (alphabetically in Bench's loop), which made
    * round-over-round per-query walls unreadable — ann_agreement "cost"
    * 15 s at 1× because it paid the whole ANN index family. Self time
    * bills a frame first built inside another frame's build once, so the
    * entries of one outermost build sum to its wall whichever frame is
    * built first. */
  private val buildTimes = new scala.collection.mutable.ArrayBuffer[(String, Double)]()

  /** Per thread, the nested-build nanoseconds of each open build,
    * innermost first. */
  private val openBuilds = ThreadLocal.withInitial[List[Array[Long]]](() => Nil)

  /** Return and clear the build-time entries recorded since the last
    * drain (insertion order). */
  def drainBuildTimes(): Seq[(String, Double)] = buildTimes.synchronized {
    val out = buildTimes.toVector
    buildTimes.clear()
    out
  }

  def memoPersist(spark: SparkSession, key: String)(build: => DataFrame): DataFrame = {
    val perSession = persistCache.synchronized {
      val it = persistCache.entrySet().iterator()
      while (it.hasNext) {
        if (it.next().getKey.sparkContext.isStopped) it.remove()
      }
      var m = persistCache.get(spark)
      if (m == null) {
        m = scala.collection.concurrent.TrieMap.empty[String, DataFrame]
        persistCache.put(spark, m)
      }
      m
    }
    perSession.getOrElseUpdate(key, {
      // Materialize EAGERLY (count = one pass that fills the cache):
      // the frame is shared by construction, so its cost is a build
      // cost, not a consumer cost — recording it here is what lets the
      // bench report attribute it as its own line. The count is not
      // wasted work: the first consumer action would have materialized
      // the identical cached partitions anyway.
      val outer = openBuilds.get
      val nested = Array(0L)
      openBuilds.set(nested :: outer)
      val t0 = System.nanoTime()
      val df =
        try {
          val d = build.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
          d.count()
          d
        } finally openBuilds.set(outer)
      val wall = System.nanoTime() - t0
      outer.headOption.foreach(_(0) += wall)
      buildTimes.synchronized { buildTimes += key -> (wall - nested(0)) / 1e9 }
      df
    })
  }

  /** events: event_id, ts (long, ns since epoch), user_id, event_type,
    * value, props (JSON string). */
  def events(s: SparkSession, dir: String): DataFrame =
    spread(s, normalizeEventsTs(rd(s, dir, "events")), s"$dir/events")
  def documents(s: SparkSession, dir: String): DataFrame =
    spread(s, rd(s, dir, "documents"), s"$dir/documents")
  def embeddings(s: SparkSession, dir: String): DataFrame =
    spread(s, rd(s, dir, "embeddings"), s"$dir/embeddings")
  def lineitem(s: SparkSession, dir: String): DataFrame = rd(s, dir, "lineitem")
  def orders(s: SparkSession, dir: String): DataFrame = rd(s, dir, "orders")
  def customer(s: SparkSession, dir: String): DataFrame = rd(s, dir, "customer")
  def supplier(s: SparkSession, dir: String): DataFrame = rd(s, dir, "supplier")
  def part(s: SparkSession, dir: String): DataFrame = rd(s, dir, "part")
  def nation(s: SparkSession, dir: String): DataFrame = rd(s, dir, "nation")
  def region(s: SparkSession, dir: String): DataFrame = rd(s, dir, "region")
}
