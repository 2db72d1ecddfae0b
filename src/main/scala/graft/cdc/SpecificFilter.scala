package graft.cdc

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Per-subscription row predicates.
  *
  * The reference walks `columnnames` to locate the filter column, then
  * compares the value against a scalar (`eq`) or a set (`in`); a column
  * absent from the change never matches (reference
  * src/utils/specific_filter.rs:21-50). Here the per-message interpreter
  * loop becomes one Catalyst expression over the name→value map:
  * `try_element_at` yields NULL for a missing key and NULL comparisons are
  * filtered, reproducing the no-match semantics — and the whole predicate
  * stays inside whole-stage codegen.
  */
object SpecificFilter {

  /** col.eq.val — missing column ⇒ NULL ⇒ no match. */
  def eqFilter(cmap: Column, colName: Column, value: Column): Column =
    try_element_at(cmap, colName) === value

  /** col.in.v1,v2,... — CSV set, same missing-column semantics
    * (reference src/utils/specific_filter.rs:44-47). */
  def inFilter(cmap: Column, colName: Column, csv: Column): Column =
    array_contains(split(csv, ","), try_element_at(cmap, colName))

  // ---- queries ------------------------------------------------------------

  /** The full subscription `insert|update:cpustats:user_id.eq.7`, in the
    * reference's evaluation ORDER: route per (table, change-kind) FIRST,
    * then apply the specific filter to the routed subset only — a
    * subscription always names one table and the forwarder tests
    * has_table && has_flag before touching SpecificFilter
    * (src/api/query.rs:34-50, src/forwarder/mod.rs:106-126). The routed
    * base is 'cpustats', whose raw set is {cpustats, _hyper_1_*} via the
    * hypertable remap column — a per-row map lookup over the in-memory
    * decoded frame. Deletes would also fall out via the missing-column
    * rule (empty columnnames, mirroring wal2json oldkeys); the explicit
    * kind route is the reference's bit test. */
  def filterEq(spark: SparkSession, dir: String): DataFrame = {
    val d = ChangeFeed.decodedWithMap(spark, dir)
    d.where(HyperRemap.base === "cpustats")
      .where(col("kind").isin("insert", "update"))
      .where(eqFilter(col("cmap"), lit("user_id"), lit("7")))
      .select(col("lsn"), col("idx"), col("kind"), col("tbl"))
      .orderBy("lsn", "idx")
  }

  /** The subscription `insert|update:swapstats:k.in.10,20,30,42,77` —
    * same route-then-filter order as [[filterEq]], on a base with no
    * hypertable chunks (the route is one raw table name). k exists only
    * on event-row statements, so balance statements fall out via the
    * missing-column rule (and via the route: they land on cpustats). */
  def filterIn(spark: SparkSession, dir: String): DataFrame = {
    val d = ChangeFeed.decodedWithMap(spark, dir)
    d.where(HyperRemap.base === "swapstats")
      .where(col("kind").isin("insert", "update"))
      .where(inFilter(col("cmap"), lit("k"), lit("10,20,30,42,77")))
      .select(col("lsn"), col("idx"), try_element_at(col("cmap"), lit("k")).as("k"))
      .orderBy("lsn", "idx")
  }

  /** The reference's string-only match rule, pinned per column: for every
    * column any change carries, count the changes that carry it
    * (n_present) vs the changes where an eq filter probing the column
    * WITH ITS OWN VALUE matches (n_self_match). For text-typed columns
    * the two are equal; for JSON-number columns (event_id, value_cents,
    * balance_cents) n_self_match is 0 — even the exactly-right value
    * never matches, because the reference compares via `as_str`
    * (src/utils/specific_filter.rs:37-46) and a number has no str. The
    * Spark side computes this through the production filter machinery
    * (the type-filtered cmap + eqFilter); the oracle applies the rule
    * structurally from the declared types. */
  val ProbedCols: Seq[String] =
    Seq("event_id", "user_id", "event_type", "value_cents", "k", "balance_cents")

  def filterTyped(spark: SparkSession, dir: String): DataFrame = {
    // One-pass form: an explode(5 probe structs) feeds a 5N-row
    // aggregation, which at the 1000× stress point (100M events) took
    // 114 s, the largest wall there. The probes are 2·|ProbedCols|
    // conditional sums in a single map-side-combined pass, and the
    // 1-row result is pivoted to the (colname, counts) contract with
    // stack() — same output, same oracle, no 5N intermediate.
    val rawMap = map_from_arrays(col("columnnames"), col("columnvalues"))
    val aggs = ProbedCols.zipWithIndex.flatMap { case (c, i) =>
      Seq(
        sum(when(array_contains(col("columnnames"), c), 1L).otherwise(0L))
          .as(s"p_$i"),
        sum(when(eqFilter(col("cmap"), lit(c), try_element_at(rawMap, lit(c))), 1L)
          .otherwise(0L)).as(s"m_$i"))
    }
    val stackArgs = ProbedCols.zipWithIndex
      .map { case (c, i) => s"'$c', p_$i, m_$i" }.mkString(", ")
    ChangeFeed.decodedWithMap(spark, dir)
      .agg(aggs.head, aggs.tail: _*)
      .selectExpr(s"stack(${ProbedCols.size}, $stackArgs) " +
        "AS (colname, n_present, n_self_match)")
      .where(col("n_present") > 0)
      .orderBy("colname")
  }

  // ---- oracle -------------------------------------------------------------

  val filterEqSql: String =
    s"""WITH ${ChangeFeed.FeedCte},
       |${HyperRemap.RoutedCte}
       |SELECT lsn, idx, kind, tbl FROM routed
       |WHERE base = 'cpustats' AND kind IN ('insert', 'update')
       |  AND CAST(user_id AS VARCHAR) = '7'
       |ORDER BY lsn, idx""".stripMargin

  val filterInSql: String =
    s"""WITH ${ChangeFeed.FeedCte},
       |${HyperRemap.RoutedCte}
       |SELECT lsn, idx, k FROM routed
       |WHERE base = 'swapstats' AND kind IN ('insert', 'update')
       |  AND k IN ('10','20','30','42','77')
       |ORDER BY lsn, idx""".stripMargin

  /** Mirror of [[filterTyped]]: unnest each change's (name, type) pairs
    * under its own column-membership rules, then n_self_match counts the
    * text-typed entries — the structural statement of `as_str`. */
  val filterTypedSql: String =
    s"""WITH ${ChangeFeed.FeedCte},
       |entries AS (
       |  SELECT lsn, idx,
       |    unnest(CASE WHEN kind = 'delete' THEN CAST([] AS VARCHAR[])
       |                WHEN idx = 1 THEN ['user_id', 'balance_cents']
       |                ELSE ['event_id', 'user_id', 'event_type', 'value_cents', 'k']
       |           END) AS cname,
       |    unnest(CASE WHEN kind = 'delete' THEN CAST([] AS VARCHAR[])
       |                WHEN idx = 1 THEN ['text', 'bigint']
       |                ELSE ['bigint', 'text', 'text', 'bigint', 'text']
       |           END) AS ctype
       |  FROM feed)
       |SELECT cname AS colname, count(*) AS n_present,
       |       CAST(sum(CASE WHEN ctype = 'text' THEN 1 ELSE 0 END) AS BIGINT)
       |         AS n_self_match
       |FROM entries GROUP BY cname ORDER BY colname""".stripMargin
}
