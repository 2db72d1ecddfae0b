package graft.cdc

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** TimescaleDB hypertable remap.
  *
  * Chunk tables named `_hyper_<idx>_<n>_chunk` are remapped to their base
  * hypertable via a catalog lookup keyed on the hypertable index, falling
  * back to the raw name when the table is not a chunk (reference
  * src/forwarder/mod.rs:15-41, src/cdc/mod.rs:12-18,49-73). The lookup is
  * tiny (one row per hypertable), so it is a broadcast join: at 100 TB the
  * change feed is never shuffled to be renamed.
  */
object HyperRemap {

  /** hypertable idx → base table (reference src/cdc/mod.rs:12-18). Keyed as
    * strings so no numeric cast can throw on non-chunk names. */
  val HyperLookup: Seq[(String, String)] = Seq("1" -> "cpustats", "2" -> "memstats")

  private val ChunkIdxPattern = "^_hyper_([0-9]+)_"

  /** Adds `base` = remapped table to a decoded change feed. */
  def remap(spark: SparkSession, changes: DataFrame): DataFrame = {
    import spark.implicits._
    val lookup = HyperLookup.toDF("hyper_idx", "hyper_base")
    changes
      .withColumn("chunk_idx", regexp_extract(col("tbl"), ChunkIdxPattern, 1))
      .join(broadcast(lookup), col("chunk_idx") === col("hyper_idx"), "left")
      .withColumn("base", coalesce(col("hyper_base"), col("tbl")))
      .drop("chunk_idx", "hyper_idx", "hyper_base")
  }

  /** STATIC raw-table predicate for one remapped base table: the raw
    * name itself plus every chunk prefix whose hypertable index maps to
    * `base`. Literal at plan time (HyperLookup is catalog config, like
    * the reference's in-memory hypertable map), so routed consumers
    * filter before any remap join — `startsWith("_hyper_<idx>_")` is
    * exactly the membership the remap's regexp computes, per index. */
  def routesTo(base: String): org.apache.spark.sql.Column =
    HyperLookup.filter(_._2 == base).map(_._1)
      .foldLeft(col("tbl") === base) { (p, idx) =>
        p || col("tbl").startsWith(s"_hyper_${idx}_")
      }

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
