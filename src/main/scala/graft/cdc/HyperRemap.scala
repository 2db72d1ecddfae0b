package graft.cdc

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** TimescaleDB hypertable remap.
  *
  * Chunk tables named `_hyper_<idx>_<n>_chunk` are remapped to their base
  * hypertable via a catalog lookup keyed on the hypertable index, falling
  * back to the raw name when the table is not a chunk (reference
  * src/forwarder/mod.rs:15-41, src/cdc/mod.rs:12-18,49-73). The lookup is
  * a map literal probed per row, like the reference's in-memory map: no
  * join, no exchange, so the change feed is never shuffled or broadcast
  * against to be renamed.
  */
object HyperRemap {

  /** hypertable idx → base table (reference src/cdc/mod.rs:12-18). Keyed as
    * strings so no numeric cast can throw on non-chunk names. */
  val HyperLookup: Seq[(String, String)] = Seq("1" -> "cpustats", "2" -> "memstats")

  private val ChunkIdxPattern = "^_hyper_([0-9]+)_"

  /** The remapped base table of `tbl`: the catalog entry of a chunk's
    * hypertable index, else the raw name (NULL for a NULL `tbl`). Routed
    * consumers filter on it directly (`base === b`), before any fan-out. */
  val base: Column = coalesce(
    try_element_at(map(HyperLookup.flatMap { case (i, b) => Seq(lit(i), lit(b)) }: _*),
      regexp_extract(col("tbl"), ChunkIdxPattern, 1)),
    col("tbl"))

  /** Adds `base` = remapped table to a decoded change feed. */
  def remap(spark: SparkSession, changes: DataFrame): DataFrame =
    changes.withColumn("base", base)

  // ---- queries ------------------------------------------------------------

  def hyperRemap(spark: SparkSession, dir: String): DataFrame =
    remap(spark, ChangeFeed.decoded(spark, dir))
      .groupBy("tbl", "base").agg(count(lit(1)).as("n"))
      .orderBy("tbl")

  // ---- oracle -------------------------------------------------------------

  val HyperCte: String = {
    val rows = HyperLookup.map { case (i, b) => s"('$i','$b')" }.mkString(", ")
    s"hyper(hyper_idx, hyper_base) AS (VALUES $rows)"
  }

  /** feed + remap → routed (requires FeedCte in scope). */
  val RoutedCte: String =
    s"""$HyperCte,
       |routed AS (
       |  SELECT f.*, coalesce(h.hyper_base, f.tbl) AS base,
       |         CASE f.kind WHEN 'insert' THEN 1 WHEN 'update' THEN 2 ELSE 4 END AS kflag
       |  FROM feed f
       |  LEFT JOIN hyper h ON regexp_extract(f.tbl, '$ChunkIdxPattern', 1) = h.hyper_idx)""".stripMargin

  val hyperRemapSql: String =
    s"""WITH ${ChangeFeed.FeedCte},
       |$RoutedCte
       |SELECT tbl, base, count(*) AS n
       |FROM routed GROUP BY tbl, base ORDER BY tbl""".stripMargin
}
