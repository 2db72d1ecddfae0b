package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{Knobs, Tables}
import graft.functions.HashExprs

/** Physical-layout planning operators: the two decisions a 100 TB table
  * owner actually makes — HOW rows are clustered into files (Z-order vs
  * linear time order, `zorder_layout`) and WHEN small files are folded
  * into target-size shards (`compaction_plan`). Neither exists in the
  * reference (it is a row-at-a-time CDC router that never owns storage
  * layout); both are what its downstream warehouse would run on the
  * tables the feed lands, and both are pure relational plans here —
  * the "layout" is audited by computing per-bucket zone-map spans, not
  * by rewriting files, so the operators run anywhere the scan runs.
  *
  * Scale shape: both reduce fact-scale input to bucket-scale output
  * (≤2·Buckets rows / ≤1 row per source) through single map-side-
  * combined aggregations; zorder's file ids are one distributed sort
  * numbered by Spark's sequence operator and compaction's running sum
  * is two-phase over doc_id chunks (the project's global-order
  * discipline — no single-reducer sort anywhere).
  */
object Layout {

  // ---- zorder_layout: Morton-clustering zone-map audit ---------------

  /** Layout bucket count: 64 "files" per layout — small enough that the
    * audit output is human-readable, large enough that span/skip ratios
    * differentiate the layouts. */
  val ZBuckets = 64

  // Audit predicates: a slice of each dimension starting a quarter into
  // its OBSERVED domain and spanning an eighth of it — domain-relative so
  // the audit is meaningful at every corpus scale (a fixed [32,47] user
  // slice is empty at sf0.001's 15 users). Both engines derive them from
  // the same min/max aggregate.

  /** Zone-map skipping audit of two physical layouts of the events
    * table: `zorder` clusters rows by the Morton interleave of
    * (user bucket, day index) — [[graft.functions.ZInterleaveExpr]],
    * whole-stage codegen — while `linear` clusters by time alone (the
    * de-facto layout of any append-by-time ingest, including the
    * reference's CDC landing tables). Each layout is cut into
    * [[ZBuckets]] equal-POPULATION "files" (rank order, the way
    * OPTIMIZE ZORDER actually emits fixed-size files after the sort —
    * equal-width key ranges would leave most files empty on a sparse
    * domain); for each file the audit computes the zone-map (min/max
    * of BOTH dimensions) and reports, per layout: total x/y spans (the
    * zone-map tightness a reader prunes with) and how many files a
    * scan could SKIP under a user-slice predicate and a day-slice
    * predicate (each an eighth of its observed domain). The point the
    * numbers make (sf0.01: linear = x-span 9529 / skip_x 0 / skip_y 57;
    * zorder = x-span 1006 / skip_x 51 / skip_y 28): time layout serves
    * only time predicates; the Morton layout serves BOTH — the reason
    * Delta/Iceberg OPTIMIZE ZORDER exists.
    *
    * Plan: one scan derives (x, y, z) scan-side (z inside whole-stage
    * codegen); each layout's file id is a [[Tables.globalRank]] over
    * its cluster key (the project's one distributed-sort shape, exactly
    * the shuffle a real OPTIMIZE rewrite pays); zone maps are a
    * ≤2·ZBuckets-key partial aggregate and the rollup a second tiny one. */
  def zorderLayout(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .withColumn("es", expr("(ts - pmod(ts, 1000000000)) div 1000000000"))
      .withColumn("day", expr("(es - pmod(es, 86400)) div 86400"))
      .withColumn("x", expr("pmod(user_id, 256)"))
    val lo = ev.agg(min("day").as("min_day"), max("day").as("max_day"),
        min("x").as("min_x"), max("x").as("max_x"))
      .withColumn("x_lo", expr("min_x + (max_x - min_x + 1) div 4"))
      .withColumn("x_hi", expr(
        "x_lo + greatest((max_x - min_x + 1) div 8 - 1, 0)"))
      .withColumn("y_lo", expr("(least(max_day - min_day, 255) + 1) div 4"))
      .withColumn("y_hi", expr(
        "y_lo + greatest((least(max_day - min_day, 255) + 1) div 8 - 1, 0)"))
    // fact-scale frame stays 4 longs wide; the predicate bounds re-join
    // the BUCKET-scale zone-map frame (≤2·ZBuckets rows), not this one
    // bounded-cross: broadcast 1-row layout origin
    val keyed = ev.crossJoin(broadcast(lo.select("min_day")))
      .withColumn("y", least(col("day") - col("min_day"), lit(255L)))
      .withColumn("z", HashExprs.zInterleave(col("x"), col("y")))
      .select("event_id", "x", "y", "z")

    // equal-population file assignment along `order`
    def files(tag: String, order: Column*): DataFrame =
      Tables.globalRank(keyed, Nil, order: _*)
        .withColumn("f", expr(s"(rnk - 1) * $ZBuckets div n_total"))
        .select(lit(tag).as("layout"), col("f"), col("x"), col("y"))

    val assigned = files("zorder", col("z"), col("event_id"))
      .unionAll(files("linear", col("y"), col("event_id")))
    assigned.groupBy("layout", "f")
      .agg(min("x").as("fx_lo"), max("x").as("fx_hi"),
        min("y").as("fy_lo"), max("y").as("fy_hi"))
      // bounded-cross: broadcast 1-row zone-map bounds
      .crossJoin(broadcast(lo.select("x_lo", "x_hi", "y_lo", "y_hi")))
      .groupBy("layout")
      .agg(
        count(lit(1)).as("n_files"),
        sum(col("fx_hi") - col("fx_lo") + 1).as("sum_x_span"),
        sum(col("fy_hi") - col("fy_lo") + 1).as("sum_y_span"),
        sum(when(col("fx_hi") < col("x_lo") || col("fx_lo") > col("x_hi"), 1L)
          .otherwise(0L)).as("skip_x"),
        sum(when(col("fy_hi") < col("y_lo") || col("fy_lo") > col("y_hi"), 1L)
          .otherwise(0L)).as("skip_y"))
      .orderBy("layout")
  }

  def zorderLayoutSql: String = {
    val z = HashExprs.zInterleaveSql("x", "y")
    s"""WITH e AS (
       |  SELECT event_id, ((user_id % 256) + 256) % 256 AS x,
       |         (CAST(floor(epoch(ts)) AS BIGINT)
       |            - ((CAST(floor(epoch(ts)) AS BIGINT) % 86400 + 86400) % 86400))
       |           // 86400 AS day
       |  FROM events),
       |lo AS (
       |  SELECT min(day) AS min_day,
       |         min(x) + (max(x) - min(x) + 1) // 4 AS x_lo,
       |         min(x) + (max(x) - min(x) + 1) // 4
       |           + greatest((max(x) - min(x) + 1) // 8 - 1, 0) AS x_hi,
       |         (least(max(day) - min(day), 255) + 1) // 4 AS y_lo,
       |         (least(max(day) - min(day), 255) + 1) // 4
       |           + greatest((least(max(day) - min(day), 255) + 1) // 8 - 1, 0) AS y_hi
       |  FROM e),
       |k AS (
       |  SELECT event_id, x, least(day - min_day, 255) AS y
       |  FROM e, lo),
       |kz AS (SELECT event_id, x, y, $z AS z FROM k),
       |n AS (SELECT CAST(count(*) AS BIGINT) AS n_total FROM kz),
       |r AS (
       |  SELECT x, y,
       |         (row_number() OVER (ORDER BY z, event_id) - 1) * $ZBuckets // n_total AS zf,
       |         (row_number() OVER (ORDER BY y, event_id) - 1) * $ZBuckets // n_total AS tf
       |  FROM kz, n),
       |a AS (
       |  SELECT 'zorder' AS layout, zf AS f, x, y FROM r
       |  UNION ALL
       |  SELECT 'linear' AS layout, tf AS f, x, y FROM r),
       |pb AS (
       |  SELECT layout, f, min(x) AS fx_lo, max(x) AS fx_hi,
       |         min(y) AS fy_lo, max(y) AS fy_hi
       |  FROM a GROUP BY layout, f)
       |SELECT layout, CAST(count(*) AS BIGINT) AS n_files,
       |       CAST(sum(fx_hi - fx_lo + 1) AS BIGINT) AS sum_x_span,
       |       CAST(sum(fy_hi - fy_lo + 1) AS BIGINT) AS sum_y_span,
       |       CAST(sum(CASE WHEN fx_hi < x_lo OR fx_lo > x_hi THEN 1 ELSE 0 END) AS BIGINT) AS skip_x,
       |       CAST(sum(CASE WHEN fy_hi < y_lo OR fy_lo > y_hi THEN 1 ELSE 0 END) AS BIGINT) AS skip_y
       |FROM pb, lo GROUP BY layout ORDER BY layout""".stripMargin
  }

  // ---- compaction_plan: small-file compaction planner ----------------

  /** Small-file compaction plan per source: documents are laid out in
    * their natural ingest order (doc_id) and folded greedily into
    * target-size output shards — a document starts the shard its
    * cumulative-offset start position falls in (bin = start div
    * target), the cumulative-sum formulation of the first-fit packing
    * every real compactor (Delta OPTIMIZE, Iceberg rewrite_data_files)
    * runs, chosen because a running total is exactly parallelizable
    * where true first-fit-decreasing is inherently sequential. The
    * target derives from corpus size ([[Knobs.compactTargetChars]]:
    * 2048-char floor at gate scale, ~20M chars ≈ a real 64-128 MB
    * shard at the 1000× point). A document larger than the target
    * still lands in one shard (compactors split at row-group, not
    * row, boundaries); fill_e4 reports the resulting overflow/
    * underflow honestly.
    *
    * Plan: the running total is TWO-PHASE over [[runningStart]]'s
    * doc_id chunks, so no source ever serializes
    * through one task, the failure mode of the naive
    * `Window.partitionBy(source)` formulation at 100 TB (one partition
    * per source = one task per source). Output is one row per source.
    * It keeps its own plan rather than [[Tables.globalRank]]: the
    * offset is a weighted running sum of n_chars, not a row rank. */
  def compactionPlan(spark: SparkSession, dir: String): DataFrame = {
    val target = Knobs.compactTargetChars
    val d = Tables.documents(spark, dir).select("source", "doc_id", "n_chars")
    val binned = runningStart(d, RunChunk)
      .withColumn("bin", expr(s"start div ${target}L"))
    binned.groupBy("source", "bin")
      .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("chars"))
      .groupBy("source")
      .agg(
        count(lit(1)).as("n_bins"),
        sum("n_docs").as("n_docs"),
        sum("chars").as("total_chars"),
        max("n_docs").as("max_bin_docs"),
        max("chars").as("max_bin_chars"),
        expr(s"(10000 * sum(chars)) div (count(1) * ${target}L)").as("fill_e4"))
      .orderBy("source")
  }

  /** doc_id values per chunk of [[runningStart]]: doc_id is unique, so
    * one chunk's slice of a source — one local running-sum task — holds
    * at most this many rows, and over dense ingest-order ids the offset
    * frame holds about one row per 2^20 documents and source. */
  private val RunChunk = 1L << 20

  /** `d` (source, doc_id, n_chars) plus `start`: the n_chars of every
    * earlier doc_id of the same source, the semantics of
    * `sum(n_chars) OVER (PARTITION BY source ORDER BY doc_id) - n_chars`.
    * Two phases over chunks of `chunk` consecutive doc_id values
    * (`doc_id div chunk`): a window sums inside each (chunk, source),
    * and a chunk-scale offset frame (the chars of the source's earlier
    * chunks) joins by broadcast. The chunk is a function of the row, so
    * both branches read `d` directly: no global sort, no sequence and no
    * pinned layout. */
  private[graft] def runningStart(d: DataFrame, chunk: Long): DataFrame = {
    val chunked = d.withColumn("chunk", expr(s"doc_id div ${chunk}L"))
    val local = chunked.withColumn("cum_local", sum("n_chars").over(
      Window.partitionBy("chunk", "source").orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, 0)))
    val offsets = chunked.groupBy("chunk", "source")
      .agg(sum("n_chars").as("part_sum"))
      .withColumn("offset", coalesce(sum("part_sum").over(
        Window.partitionBy("source").orderBy("chunk")
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select("chunk", "source", "offset")
    local.join(broadcast(offsets), Seq("chunk", "source"))
      .select(d.columns.map(col) :+
        (col("offset") + col("cum_local") - col("n_chars")).as("start"): _*)
  }

  def compactionPlanSql: String = {
    val target = Knobs.compactTargetChars
    s"""WITH c AS (
       |  SELECT source, n_chars,
       |         sum(n_chars) OVER (PARTITION BY source ORDER BY doc_id
       |           ROWS UNBOUNDED PRECEDING) - n_chars AS start
       |  FROM documents),
       |b AS (
       |  SELECT source, start // $target AS bin,
       |         CAST(count(*) AS BIGINT) AS n_docs,
       |         CAST(sum(n_chars) AS BIGINT) AS chars
       |  FROM c GROUP BY source, bin)
       |SELECT source, CAST(count(*) AS BIGINT) AS n_bins,
       |       CAST(sum(n_docs) AS BIGINT) AS n_docs,
       |       CAST(sum(chars) AS BIGINT) AS total_chars,
       |       CAST(max(n_docs) AS BIGINT) AS max_bin_docs,
       |       CAST(max(chars) AS BIGINT) AS max_bin_chars,
       |       CAST((10000 * sum(chars)) // (count(*) * $target) AS BIGINT) AS fill_e4
       |FROM b GROUP BY source ORDER BY source""".stripMargin
  }
}
