package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.GraftShim
import org.apache.spark.sql.types.StructType

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

  /** Per session, each table read so far: its schema and its scan-width
    * decision, both kept for the session's lifetime because every
    * registered query re-reads its tables through [[rd]]. Without the
    * schema, `spark.read.parquet` infers it with a footer job on every
    * read. The decision is a source-parallelism guard for tables that feed
    * heavy per-row compute (decode, shingle hashing, vector math): the
    * local testdata is one single-row-group parquet file per table, so the
    * scan yields ONE partition and everything upstream of the first
    * shuffle runs on one core. When (and only when) the scan has fewer
    * partitions than cores, rebalance first — on a production 100 TB table
    * the scan has thousands of row groups and this is a no-op. Its probe
    * (`df.rdd`) plans the query twice. Weak session keys: a stopped
    * session's entries (and the session itself) stay collectable, so a
    * driver cycling sessions does not leak. Files added mid-session keep
    * the first read's schema and decision. */
  private type TableRead = (StructType, Boolean)
  private val spreadDecisions: java.util.Map[SparkSession, scala.collection.mutable.Map[String, TableRead]] =
    java.util.Collections.synchronizedMap(
      new java.util.WeakHashMap[SparkSession, scala.collection.mutable.Map[String, TableRead]]())

  /** Table `name` under `dir`, `prep` applied to the scan; with
    * `spreads`, rebalanced to the cores when the scan is narrower (so
    * `prep` runs before the rebalance's exchange). */
  private def rd(spark: SparkSession, dir: String, name: String,
      spreads: Boolean = false, prep: DataFrame => DataFrame = identity): DataFrame = {
    val path = s"$dir/$name.parquet"
    val reader = tune(spark).read
    val cores = spark.sparkContext.defaultParallelism
    val perSession = spreadDecisions.synchronized {
      var m = spreadDecisions.get(spark)
      if (m == null) {
        m = scala.collection.concurrent.TrieMap.empty[String, TableRead]
        spreadDecisions.put(spark, m)
      }
      m
    }
    val (df, narrow) = perSession.get(path) match {
      case Some((schema, narrow)) => (prep(reader.schema(schema).parquet(path)), narrow)
      case None =>
        val raw = reader.parquet(path)
        val df = prep(raw)
        // bounded-collect: plan-time metadata probe only (partition COUNT,
        // no rows move); kept per session. CollectGateSpec-audited.
        val narrow = spreads && df.rdd.getNumPartitions < cores
        perSession.put(path, (raw.schema, narrow))
        (df, narrow)
    }
    if (narrow) df.repartition(cores) else df
  }

  /** The one distributed global rank: adds `rnk`, 1-based over `order`
    * within each `within` group (global when `within` is empty), and
    * `n_total`, the row count of that group — the semantics of
    * `row_number() OVER (PARTITION BY within ORDER BY order)` without a
    * single-partition sort at any width.
    *
    * Plan: one global sort on (within, order) — a range exchange, then a
    * sort per range — numbered by Spark's distributed sequence, so `seq`
    * is each row's 0-based global position. The group frame
    * ([[rankGroups]]: one row per `within` group, its size and the rows
    * of every earlier group) joins by broadcast, and `rnk = seq + 1 -
    * before`. `order` must end in a unique id: over a total order `seq`
    * does not depend on where the range bounds fall, so every evaluation
    * of the plan, and both sides of a self-join, see the same ranks, and
    * building the frame runs no job. The global rank joins on a constant
    * key, so it adds no cross join.
    *
    * `rnk` is a position minus an offset, never a running sum, so it
    * stays non-nullable in the caller's schema. */
  def globalRank(df: DataFrame, within: Seq[String], order: Column*): DataFrame =
    globalRank(df, rankGroups(df, within), within, order: _*)

  /** [[globalRank]] over a group frame the caller already holds.
    * `groups` must be [[rankGroups]] of a frame whose `within` groups
    * have the sizes of `df`'s, such as the input of a rank whose output
    * `df` is. The group count reads its frame a second time, and the
    * optimizer keeps each rank's join to its group frame, so counting a
    * rank's output would repeat that rank's sort and count: a chain of
    * ranks over one row set passes the count of the chain's input
    * instead. */
  def globalRank(df: DataFrame, groups: DataFrame, within: Seq[String],
      order: Column*): DataFrame =
    GraftShim.withSequenceColumn(
        rankKeyed(df, within).orderBy(within.map(col) ++ order: _*), "seq")
      .join(broadcast(groups), rankKeys(within))
      .select(df.columns.map(col) :+
        (col("seq") + 1 - col("before")).as("rnk") :+ col("n_total"): _*)

  /** The group frame of a rank over `df`: one row per `within` group (a
    * single row keyed by the constant `rank_all` when `within` is empty)
    * with its row count `n_total` and `before`, the rows of every
    * earlier group. */
  def rankGroups(df: DataFrame, within: Seq[String]): DataFrame = {
    val keys = rankKeys(within).map(col)
    rankKeyed(df, within).groupBy(keys: _*)
      .agg(count(lit(1)).as("n_total"))
      .withColumn("before", coalesce(sum("n_total").over(
        Window.orderBy(keys: _*).rowsBetween(Window.unboundedPreceding, -1)),
        lit(0L)))
  }

  private def rankKeys(within: Seq[String]): Seq[String] =
    if (within.isEmpty) Seq("rank_all") else within

  private def rankKeyed(df: DataFrame, within: Seq[String]): DataFrame =
    if (within.isEmpty) df.withColumn("rank_all", lit(0)) else df

  /** Memoized persist: build + `persist(MEMORY_AND_DISK)` a frame at most
    * once per (session, key). Spark's CacheManager already dedupes cached
    * data by plan, but re-calling persist() on a freshly built copy of the
    * same plan logs "Asked to cache already cached data" per call and keeps
    * re-deriving the plan; memoizing the DataFrame object itself makes the
    * shared intermediate (decoded CDC feed, shingle sets, quantized
    * vectors) genuinely build-once.
    *
    * Lifetime: unlike [[spreadDecisions]] (whose values let the
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
    rd(s, dir, "events", spreads = true, prep = normalizeEventsTs)
  def documents(s: SparkSession, dir: String): DataFrame =
    rd(s, dir, "documents", spreads = true)
  def embeddings(s: SparkSession, dir: String): DataFrame =
    rd(s, dir, "embeddings", spreads = true)
  def lineitem(s: SparkSession, dir: String): DataFrame = rd(s, dir, "lineitem")
  def orders(s: SparkSession, dir: String): DataFrame = rd(s, dir, "orders")
  def customer(s: SparkSession, dir: String): DataFrame = rd(s, dir, "customer")
  def supplier(s: SparkSession, dir: String): DataFrame = rd(s, dir, "supplier")
  def part(s: SparkSession, dir: String): DataFrame = rd(s, dir, "part")
  def nation(s: SparkSession, dir: String): DataFrame = rd(s, dir, "nation")
  def region(s: SparkSession, dir: String): DataFrame = rd(s, dir, "region")
}
