package graft.cdc

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Per-subscriber fan-out: route every change to each subscription whose
  * (table, change-kind) matches, then apply that subscription's specific
  * filter (reference src/forwarder/mod.rs:43-143).
  *
  * The reference keeps an in-memory map (table, kind) → sessions and walks
  * it per message; here routing is a broadcast hash join of the change feed
  * against the (tiny) subscription table, with the flag bit-test and the
  * specific filter as join/filter expressions. The fact side is never
  * shuffled — the plan must show BroadcastHashJoin and no cartesian.
  */
object Forwarder {

  /** Routed + filtered deliveries: (sub_id, lsn, idx, base, kind, uid_val)
    * over a decoded (+cmap) frame. Pure frame transform — the same chain
    * runs over the batch entry's memoized persisted decode, which fan-out
    * shares with every other CDC query, and over a Structured Streaming
    * source (ForwarderStreamSpec). */
  def fanoutFromDecoded(spark: SparkSession, withMap: DataFrame): DataFrame =
    fanoutOver(spark, withMap, Subscription.routable(spark))

  /** Fan-out against an explicit (already validated+routable) subscription
    * frame — the auth-restricted path passes its connect-time-gated subset
    * so unauthorized legs are never materialized at all (the reference
    * model: auth runs per connect, the forwarder only ever holds accepted
    * sessions — src/api/auth.rs:126-224, src/forwarder/mod.rs:55-69). */
  def fanoutOver(spark: SparkSession, withMap: DataFrame,
                 subsDf: DataFrame): DataFrame = {
    val changes = HyperRemap.remap(spark, withMap)
      .withColumn("kflag", ChangeFeed.kindFlag)
    val subs = subsDf
      .select("sub_id", "flag", "tbl", "fcol", "fop", "fval")
      .withColumnRenamed("tbl", "sub_tbl")
    // Dispatch on the parsed op: '' means no (or malformed) filter, which
    // the reference treats as "deliver everything" (specific = None).
    val specOk =
      when(col("fop") === "eq",
        SpecificFilter.eqFilter(col("cmap"), col("fcol"), col("fval")))
        .when(col("fop") === "in",
          SpecificFilter.inFilter(col("cmap"), col("fcol"), col("fval")))
        .otherwise(lit(true))
    changes
      .join(broadcast(subs),
        col("sub_tbl") === col("base") &&
          col("flag").bitwiseAND(col("kflag")) =!= 0)
      .where(specOk)
      .select(col("sub_id"), col("lsn"), col("idx"), col("base"), col("kind"),
        try_element_at(col("cmap"), lit("user_id")).as("uid_val"))
  }

  def fanout(spark: SparkSession, dir: String): DataFrame =
    fanoutFromDecoded(spark, ChangeFeed.decodedWithMap(spark, dir))

  // ---- queries ------------------------------------------------------------

  def fanoutForward(spark: SparkSession, dir: String): DataFrame =
    fanout(spark, dir)
      .select("sub_id", "lsn", "idx", "base", "kind")
      .orderBy("sub_id", "lsn", "idx")

  /** Per-base-table applied-offset view — the batch analogue of the
    * reference's standby-status-update feedback loop, which reports the
    * max LSN seen every 10 s (reference src/cdc/replication.rs:255-282;
    * the streaming counterpart lives in graft.streaming.ChangeFeedStream).
    * ONE definition serves the checkpoint report and the lag report, so
    * the remap chain and the aggregation cannot drift between them (SQL
    * twin: [[PerBaseCte]]). */
  private def perBaseOffsets(spark: SparkSession, dir: String): DataFrame =
    HyperRemap.remap(spark, ChangeFeed.decoded(spark, dir))
      .groupBy("base")
      .agg(max(col("lsn")).as("max_lsn"), count(lit(1)).as("n_changes"))

  /** Oracle twin of [[perBaseOffsets]] (requires feed + routed in scope). */
  val PerBaseCte: String =
    """per_base AS (
      |  SELECT base, max(lsn) AS max_lsn, count(*) AS n_changes
      |  FROM routed GROUP BY base)""".stripMargin

  def resumeOffsets(spark: SparkSession, dir: String): DataFrame =
    perBaseOffsets(spark, dir)
      .select("base", "max_lsn", "n_changes")
      .orderBy("base")

  /** Per-table replication lag against the feed's high-water mark — the
    * reader-side view of the reference's standby status update (it
    * reports received/flushed LSN every 10 s,
    * src/cdc/replication.rs:255-282; a consumer diffing that against the
    * master's position gets exactly this lag). Per base table: its last
    * applied LSN, the global high-water, and the distance between them.
    * The global max is a 1-row broadcast over the already-aggregated
    * per-table frame — no second pass over the feed. */
  def cdcLag(spark: SparkSession, dir: String): DataFrame = {
    val perBase = perBaseOffsets(spark, dir)
    val hiWater = perBase.agg(max("max_lsn").as("global_lsn"))
    // bounded-cross: broadcast 1-row global high-water
    perBase.crossJoin(broadcast(hiWater))
      .withColumn("lag", col("global_lsn") - col("max_lsn"))
      .select("base", "n_changes", "max_lsn", "global_lsn", "lag")
      .orderBy("base")
  }

  /** def: [[PerBaseCte]] is declared on this object and the val
    * initialization order depends on member position; a def always sees
    * the initialized value. */
  def cdcLagSql: String =
    s"""WITH ${ChangeFeed.FeedCte},
       |${HyperRemap.RoutedCte},
       |$PerBaseCte,
       |hi AS (SELECT max(max_lsn) AS global_lsn FROM per_base)
       |SELECT base, n_changes, max_lsn, global_lsn,
       |       global_lsn - max_lsn AS lag
       |FROM per_base CROSS JOIN hi
       |ORDER BY base""".stripMargin

  /** Entity key over a decoded+cmap change row: insert/update expose it in
    * the column map, deletes only in wal2json oldkeys. */
  val entityCol: org.apache.spark.sql.Column = coalesce(
    try_element_at(col("cmap"), lit("user_id")),
    try_element_at(map_from_arrays(col("keynames"), col("keyvalues")),
      lit("user_id"))).cast("long")

  /** The keyed routed view every state consumer reads: one row per change,
    * remapped to its base table and keyed on its entity, narrowed to
    * (base, uid, lsn, idx, kind). A pure frame transform: the batch
    * [[routedKeyed]] memo, the streaming twins and the feed harness's
    * micro-batch all derive their keys here. */
  def keyed(withMap: DataFrame): DataFrame =
    HyperRemap.remap(withMap.sparkSession, withMap)
      .select(col("base"), entityCol.as("uid"), col("lsn"), col("idx"),
        col("kind"))

  /** Materialized snapshot from the change feed: per (base table, entity)
    * last-writer-wins by LSN, with deletes as tombstones — the "apply the
    * CDC stream to get current state" consumer the reference feeds (its
    * clients replay the stream into their own views; this is that replay
    * as one plan). The entity key comes from `columnvalues` for
    * insert/update and from wal2json `oldkeys` for deletes (which carry no
    * column arrays). One shuffle on (base, entity) over the 5 keyed
    * columns, map-side combined. */
  def cdcSnapshot(spark: SparkSession, dir: String): DataFrame =
    stateToSnapshot(snapshotState(routedKeyed(spark, dir)))

  // ---- the state family: one last-write fold, one version rule -------------

  /** [[keyed]] over the session's decoded feed, memoized+persisted as its
    * own build. Deriving the keys builds each change's column map from
    * its arrays, and the incremental keys consume them several times per
    * query (checkpoint aggregate, pre branch twice, delta branch); over
    * the 5 cached scalar columns each consumption is a narrow scan. Timed
    * cold as a plain plan instead, cdc_scd2_inc derives the keys six times
    * and loses more than the build costs, at sf0.1 and at 100×. */
  private def routedKeyed(spark: SparkSession, dir: String): DataFrame =
    graft.Tables.memoPersist(spark, s"cdc.routedKeyed:$dir") {
      keyed(ChangeFeed.decodedWithMap(spark, dir))
    }

  /** Keyed rows, each weighing `w`: the input shape of [[lastWrite]] and
    * [[scd2Versions]], (base, uid, lsn, idx, kind, w). */
  private def weighted(rows: DataFrame, w: Column): DataFrame =
    rows.select(col("base"), col("uid"), col("lsn"), col("idx"), col("kind"),
      w.as("w"))

  /** The per-entity last-write fold every state shares: over weighted
    * rows, per (base, uid) the greatest (lsn, idx) — statements of one
    * transaction document share the commit LSN and idx is their write
    * order — its kind, and the sum of `w`, named `name`. Output: (base,
    * uid, last_lsn, last_idx, last_kind, name), `name` non-null. One
    * shuffle on (base, uid), map-side combined.
    *
    * The fold is associative, so a state re-entered as weighted rows
    * ([[reentered]]) folds with the rows that follow it:
    * merge(state(≤L), delta(L,L']) ≡ state(≤L') exactly — the reference's
    * confirmed-LSN resume (src/cdc/replication.rs:95-282) applied to STATE
    * rather than offsets, at one shuffle over |state| + |delta| rows. */
  private def lastWrite(rows: DataFrame, name: String): DataFrame =
    rows.groupBy("base", "uid")
      .agg(max(struct(col("lsn"), col("idx"))).as("last"),
        expr("max_by(kind, struct(lsn, idx))").as("last_kind"),
        coalesce(sum(col("w")), lit(0L)).as(name))
      .select(col("base"), col("uid"), col("last.lsn").as("last_lsn"),
        col("last.idx").as("last_idx"), col("last_kind"), col(name))

  /** A [[lastWrite]] state as weighted rows again, its accumulated `name`
    * as weight `w`: each entity's last change stands for its history. */
  private[graft] def reentered(state: DataFrame, name: String): DataFrame =
    state.select(col("base"), col("uid"), col("last_lsn").as("lsn"),
      col("last_idx").as("idx"), col("last_kind").as("kind"), col(name).as("w"))

  /** The SCD type-2 version rule, over weighted rows with `w` = 1 for each
    * non-delete change and 0 for a delete (a re-entered [[scd2Cursor]] row
    * weighs its version count). One window per (base, uid) in (lsn, idx)
    * order does both jobs: `lead` closes each version at its entity's next
    * change of any kind, and the running sum of `w` numbers it. A delete
    * opens no version. `valid_to` = −1 and `is_current` = 1 mark a version
    * no later row closes. */
  private[graft] def scd2Versions(rows: DataFrame): DataFrame = {
    val w = Window.partitionBy("base", "uid").orderBy("lsn", "idx")
    rows.withColumn("nxt", lead(col("lsn"), 1).over(w))
      .withColumn("version", coalesce(
        sum(col("w")).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)),
        lit(0L)))
      .where(col("kind") =!= "delete")
      .select(col("base"), col("uid"), col("version"),
        col("lsn").as("valid_from"),
        coalesce(col("nxt"), lit(-1L)).as("valid_to"),
        when(col("nxt").isNull, 1L).otherwise(0L).as("is_current"),
        col("kind"))
  }

  private val nonDelete: Column = when(col("kind") =!= "delete", 1L).otherwise(0L)

  /** LWW state WITH tombstones over a keyed routed frame — the
    * checkpointable representation: unlike the [[cdcSnapshot]] report
    * (which drops deleted entities), state must REMEMBER the delete so a
    * later merge can distinguish "deleted at LSN d" from "never existed"
    * (wal2json oldkeys semantics survive the checkpoint). Schema: (base,
    * uid, last_lsn, last_idx, last_kind, n_changes). */
  def snapshotState(routed: DataFrame): DataFrame =
    lastWrite(weighted(routed, lit(1L)), "n_changes")

  /** Merge a checkpointed [[snapshotState]] (feed ≤ L) with the keyed
    * changes in (L, L']: ≡ snapshotState(feed ≤ L'). */
  def mergeSnapshotState(state: DataFrame, deltaRouted: DataFrame): DataFrame =
    lastWrite(reentered(state, "n_changes")
      .unionByName(weighted(deltaRouted, lit(1L))), "n_changes")

  /** Fold any set of [[snapshotState]] versions over disjoint parts of a
    * feed, e.g. the live feed's per-batch deltas read as one frame:
    * ≡ snapshotState(keyed(all parts)), by the same associativity. */
  def foldSnapshotStates(states: DataFrame): DataFrame =
    lastWrite(reentered(states, "n_changes"), "n_changes")

  /** Drop tombstones and order — turns a state frame into the
    * [[cdcSnapshot]] report shape. */
  def stateToSnapshot(state: DataFrame): DataFrame =
    state.where(col("last_kind") =!= "delete")
      .select("base", "uid", "last_lsn", "last_kind", "n_changes")
      .orderBy("base", "uid")

  /** The checkpoint split of a keyed feed: (changes ≤ L, changes > L) at
    * L = 3/5 of its high-water LSN (integer floor — Spark `div` ≡ DuckDB
    * `//`). A transaction's statements share one commit LSN, so an LSN
    * split never cuts a transaction in half. Both branches re-read the
    * keyed input (the persisted [[routedKeyed]] memo). */
  private def checkpointSplit(keyedRows: DataFrame): (DataFrame, DataFrame) = {
    val ckpt = keyedRows.agg(expr("max(lsn) * 3 div 5").as("ckpt_lsn"))
    // bounded-cross: 1-row aggregate broadcast, N-independent
    val withL = keyedRows.crossJoin(broadcast(ckpt))
    (withL.where(col("lsn") <= col("ckpt_lsn")).drop("ckpt_lsn"),
      withL.where(col("lsn") > col("ckpt_lsn")).drop("ckpt_lsn"))
  }

  /** Incremental snapshot maintenance, proven against the full replay:
    * checkpoint the state at the [[checkpointSplit]] point, merge the
    * (L, max] delta, and emit the snapshot report. The ORACLE for this key
    * is [[cdcSnapshotSql]] — the full replay — so the oracle hash match IS
    * the equivalence proof merge(state(≤L), delta) ≡ replay(≤max).
    * IncrementalSnapshotSpec widens the proof to split points
    * {0, 30, 60, 90, 100}% including both degenerate ends (empty state /
    * empty delta). */
  def cdcSnapshotIncremental(spark: SparkSession, dir: String): DataFrame = {
    val (pre, delta) = checkpointSplit(routedKeyed(spark, dir))
    stateToSnapshot(mergeSnapshotState(snapshotState(pre), delta))
  }

  // ---- oracle -------------------------------------------------------------

  /** feed → routed → parsed subs → fanout, with uid_val exposed for auth.
    * The per-column value CASE mirrors the name→value map lookup under
    * BOTH no-match rules of reference specific_filter.rs:21-50:
    *  - column membership: deletes expose NO columns (empty columnnames ⇒
    *    every lookup NULL), and a balance statement (idx=1) exposes only
    *    user_id + balance_cents;
    *  - value typing: only text-typed values can match (`as_str`), so the
    *    JSON-number columns event_id / value_cents / balance_cents have no
    *    branch at all — a filter naming them never matches, even with the
    *    exactly-right value (see filter_typed). */
  val FanoutCtes: String =
    s"""${ChangeFeed.FeedCte},
       |${HyperRemap.RoutedCte},
       |${Subscription.ParsedCte},
       |joined AS (
       |  SELECT s.sub_id, r.lsn, r.idx, r.base, r.kind, s.fcol, s.fop, s.fval,
       |         CASE WHEN r.kind <> 'delete' THEN CAST(r.user_id AS VARCHAR) END AS uid_val,
       |         CASE WHEN r.kind = 'delete' THEN NULL
       |              WHEN r.idx = 1 THEN
       |                CASE s.fcol WHEN 'user_id' THEN CAST(r.user_id AS VARCHAR) END
       |              ELSE CASE s.fcol
       |                   WHEN 'user_id' THEN CAST(r.user_id AS VARCHAR)
       |                   WHEN 'event_type' THEN r.event_type
       |                   WHEN 'k' THEN r.k
       |              END
       |         END AS cv
       |  FROM routed r
       |  JOIN validated s ON s.routable AND s.tbl = r.base AND (s.flag & r.kflag) <> 0),
       |fanout AS (
       |  SELECT sub_id, lsn, idx, base, kind, uid_val FROM joined
       |  WHERE fop NOT IN ('eq', 'in')
       |     OR (fop = 'eq' AND cv = fval)
       |     OR (fop = 'in' AND list_contains(string_split(fval, ','), cv)))""".stripMargin

  val fanoutForwardSql: String =
    s"""WITH $FanoutCtes
       |SELECT sub_id, lsn, idx, base, kind
       |FROM fanout ORDER BY sub_id, lsn, idx""".stripMargin

  /** The relational mirror keys every change on user_id directly (the feed
    * CTE carries it for all kinds; the engine-side split between
    * columnvalues and oldkeys is a decode-path concern, not a semantic
    * one). */
  val cdcSnapshotSql: String =
    s"""WITH ${ChangeFeed.FeedCte},
       |${HyperRemap.RoutedCte},
       |ranked AS (
       |  SELECT base, user_id AS uid, lsn, kind,
       |         row_number() OVER (PARTITION BY base, user_id
       |                            ORDER BY lsn DESC, idx DESC) AS rn,
       |         count(*) OVER (PARTITION BY base, user_id) AS n_changes
       |  FROM routed)
       |SELECT base, uid, lsn AS last_lsn, kind AS last_kind,
       |       CAST(n_changes AS BIGINT) AS n_changes
       |FROM ranked
       |WHERE rn = 1 AND kind <> 'delete'
       |ORDER BY base, uid""".stripMargin

  def resumeOffsetsSql: String =
    s"""WITH ${ChangeFeed.FeedCte},
       |${HyperRemap.RoutedCte},
       |$PerBaseCte
       |SELECT base, max_lsn, n_changes
       |FROM per_base ORDER BY base""".stripMargin

  // ---- cdc_scd2: slowly-changing-dimension type-2 history -----------------

  /** SCD type-2 history materialization — the OTHER standard CDC consumer
    * next to the LWW snapshot: instead of keeping only each entity's
    * latest state, keep every version with its validity interval
    * ([[scd2Versions]]). Each non-delete change of (base, entity) opens a
    * version at its LSN; the version closes at the LSN of the entity's
    * NEXT change of ANY kind (a delete closes the open version without
    * opening one — the tombstone semantics of cdcSnapshot, expressed as
    * intervals). An entity whose history ends in a delete has no current
    * version. Version numbers count non-delete changes in write order
    * (LSN, then statement index within the transaction document).
    *
    * Scale shape: one shuffle on (base, entity) of the 5 keyed columns
    * and one window; history length per entity is bounded by that
    * entity's change count. */
  def cdcScd2(spark: SparkSession, dir: String): DataFrame =
    scd2Versions(weighted(routedKeyed(spark, dir).where(col("uid").isNotNull),
        nonDelete))
      .orderBy("base", "uid", "version")

  // ---- cdc_scd2_inc: incremental SCD2 maintenance ≡ full replay -----------

  /** Incremental SCD2 history maintenance, proven against the full
    * replay (the row-209 contract applied to the OTHER standard CDC
    * consumer): split the feed at the [[checkpointSplit]] point L, then
    *
    *  - CLOSED versions from the pre-L history are IMMUTABLE — a version
    *    whose next change is also ≤ L can never be touched again
    *    (append-only at 100 TB: the checkpoint ships them verbatim);
    *  - each entity's checkpoint CURSOR is 1 row: (version count, last
    *    change's lsn/idx/kind). The OPEN version, if any, is derivable
    *    from it (an entity is open iff its last change is a non-delete);
    *  - the merge closes an open version at its entity's FIRST delta
    *    change (an LSN split never cuts a transaction, so "first" is
    *    well-defined by (lsn, idx)), numbers delta versions from the
    *    cursor's count, and leaves untouched entities' open versions
    *    open.
    *
    * The ORACLE is [[cdcScd2Sql]] — the full replay — so the hash match
    * proves closed(≤L) ∪ close(open(≤L), delta) ∪ versions(delta)
    * ≡ scd2(≤ hi). Merge cost tracks |cursor| + |delta| (the closed set
    * is a pass-through write, never re-sorted or re-joined);
    * IncrementalSnapshotSpec's scd2 test widens the proof across split
    * points including both degenerate ends. */
  def cdcScd2Incremental(spark: SparkSession, dir: String): DataFrame = {
    val (pre, delta) =
      checkpointSplit(routedKeyed(spark, dir).where(col("uid").isNotNull))
    scd2Merged(pre, delta)
  }

  /** 1 row per pre entity: its last change (the open version, if any, is
    * derivable: open iff last_kind ≠ delete) and its non-delete version
    * count. Schema: (base, uid, last_lsn, last_idx, last_kind,
    * n_versions). */
  def scd2Cursor(pre: DataFrame): DataFrame =
    lastWrite(weighted(pre, nonDelete), "n_versions")

  /** Advance a [[scd2Cursor]] over the keyed changes that follow it:
    * ≡ scd2Cursor(pre ∪ delta). The streaming SCD2 twin's state. */
  def mergeScd2Cursor(cursor: DataFrame, delta: DataFrame): DataFrame =
    lastWrite(reentered(cursor, "n_versions")
      .unionByName(weighted(delta, nonDelete)), "n_versions")

  /** The rows the merge PRODUCES: pre-L open versions resolved against
    * the delta (closed at their entity's first delta change, or kept
    * open), plus the delta's own versions numbered from the cursor. The
    * cursor re-enters as each entity's first row (every delta change
    * follows it in (lsn, idx)), weighing its version count, so
    * [[scd2Versions]] reads it once. Cost tracks |cursor| + |delta|
    * only. */
  def scd2New(cursor: DataFrame, delta: DataFrame): DataFrame =
    scd2Versions(reentered(cursor, "n_versions")
      .unionByName(weighted(delta, nonDelete)))

  /** The checkpoint+merge plan over explicit pre/delta frames (both in
    * [[keyed]] shape, uid non-null) — shared by the registered query and
    * IncrementalSnapshotSpec's multi-split proof. The closed versions are
    * [[scd2Versions]] of the pre rows that a later pre row closes; the
    * cursor is a map-side-combined AGGREGATE (per-entity partials cross
    * the exchange, not rows) with one consumer, [[scd2New]]. */
  def scd2Merged(pre: DataFrame, delta: DataFrame): DataFrame =
    scd2New(scd2Cursor(pre), delta)
      .unionByName(scd2Versions(weighted(pre, nonDelete))
        .where(col("is_current") === 0))
      .orderBy("base", "uid", "version")

  val cdcScd2Sql: String =
    s"""WITH ${ChangeFeed.FeedCte},
       |${HyperRemap.RoutedCte},
       |led AS (
       |  SELECT base, user_id AS uid, lsn, idx, kind,
       |         lead(lsn) OVER (PARTITION BY base, user_id ORDER BY lsn, idx) AS nxt
       |  FROM routed WHERE user_id IS NOT NULL),
       |vers AS (
       |  SELECT base, uid, lsn, kind, nxt,
       |         CAST(row_number() OVER (PARTITION BY base, uid ORDER BY lsn, idx) AS BIGINT) AS version
       |  FROM led WHERE kind <> 'delete')
       |SELECT base, uid, version, lsn AS valid_from,
       |       CAST(coalesce(nxt, -1) AS BIGINT) AS valid_to,
       |       CAST(CASE WHEN nxt IS NULL THEN 1 ELSE 0 END AS BIGINT) AS is_current,
       |       kind
       |FROM vers ORDER BY base, uid, version""".stripMargin
}
