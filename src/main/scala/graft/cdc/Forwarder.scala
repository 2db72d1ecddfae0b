package graft.cdc

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
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

  /** Routed + filtered deliveries: (sub_id, lsn, base, kind, uid_val).
    * Pure frame transform — the same chain runs over the batch events
    * table and a Structured Streaming source (ForwarderStreamSpec). */
  def fanoutFrom(spark: SparkSession, ev: DataFrame): DataFrame =
    fanoutFromDecoded(spark, ChangeFeed.decodedWithMapFrom(ev))

  /** Same chain over an already-decoded (+cmap) frame — the batch entry
    * feeds the memoized persisted decode through here so fan-out shares it
    * with every other CDC query instead of re-running the JSON path. */
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

  /** Same LWW materialization over an already decoded+cmap frame — the
    * batch reference the composed JDBC streaming pipeline's incremental
    * snapshot state must converge to (JdbcPipelineSpec). */
  def snapshotFromDecoded(spark: SparkSession, withMap: DataFrame): DataFrame =
    stateToSnapshot(snapshotState(keyed(withMap)))

  // ---- cdc_snapshot_inc: incremental state maintenance ≡ full replay ------

  /** [[keyed]] over the session's decoded feed, memoized+persisted as its
    * own build. The state/merge family consumes it several times per
    * query (checkpoint aggregate, pre branch, delta branch); the 5 scalar
    * columns are ~10× narrower than the decode (cmap map + column arrays
    * per row), so each re-consumption is a cached-columnar scan rather
    * than a full-width re-read. */
  def routedKeyed(spark: SparkSession, dir: String): DataFrame =
    graft.Tables.memoPersist(spark, s"cdc.routedKeyed:$dir") {
      keyed(ChangeFeed.decodedWithMap(spark, dir))
    }

  /** The per-entity last-write fold every state shares: over keyed rows,
    * per (base, uid) the greatest (lsn, idx) — statements of one
    * transaction document share the commit LSN and idx is their write
    * order — its kind, and `weight` (an aggregate, named `name`). Output:
    * (base, uid, last_lsn, last_idx, last_kind, name). One shuffle on
    * (base, uid), map-side combined. */
  private def lastWrite(rows: DataFrame, name: String, weight: Column): DataFrame =
    rows.groupBy("base", "uid")
      .agg(max(struct(col("lsn"), col("idx"))).as("last"),
        expr("max_by(kind, struct(lsn, idx))").as("last_kind"),
        weight.as(name))
      .select(col("base"), col("uid"), col("last.lsn").as("last_lsn"),
        col("last.idx").as("last_idx"), col("last_kind"), col(name))

  /** A [[lastWrite]] state as keyed rows again, its accumulated `name`
    * as weight `w`. */
  private def reentered(state: DataFrame, name: String): DataFrame =
    state.select(col("base"), col("uid"), col("last_lsn").as("lsn"),
      col("last_idx").as("idx"), col("last_kind").as("kind"), col(name).as("w"))

  /** Re-enter a [[lastWrite]] state into the fold, each delta row
    * weighing `deltaWeight`. The fold is associative, so
    * merge(state(≤L), delta(L,L']) ≡ state(≤L') exactly — the reference's
    * confirmed-LSN resume (src/cdc/replication.rs:95-282) applied to
    * STATE rather than offsets. Cost: one shuffle over |state| + |delta|
    * rows — it tracks the delta plus the entity count, never the feed
    * length. */
  private def mergeLastWrite(state: DataFrame, name: String,
      delta: DataFrame, deltaWeight: Column): DataFrame =
    lastWrite(
      reentered(state, name).unionByName(delta.select(col("base"), col("uid"),
        col("lsn"), col("idx"), col("kind"), deltaWeight.as("w"))),
      name, sum("w"))

  /** LWW state WITH tombstones over a keyed routed frame — the
    * checkpointable representation: unlike [[snapshotFromDecoded]]'s
    * report (which drops deleted entities), state must REMEMBER the
    * delete so a later merge can distinguish "deleted at LSN d" from
    * "never existed" (wal2json oldkeys semantics survive the
    * checkpoint). Schema: (base, uid, last_lsn, last_idx, last_kind,
    * n_changes). */
  def snapshotState(routed: DataFrame): DataFrame =
    lastWrite(routed, "n_changes", count(lit(1)))

  /** Merge a checkpointed [[snapshotState]] (feed ≤ L) with the keyed
    * changes in (L, L']: ≡ snapshotState(feed ≤ L'). */
  def mergeSnapshotState(state: DataFrame, deltaRouted: DataFrame): DataFrame =
    mergeLastWrite(state, "n_changes", deltaRouted, lit(1L))

  /** Fold any set of [[snapshotState]] versions over disjoint parts of a
    * feed, e.g. the live feed's per-batch deltas read as one frame:
    * ≡ snapshotState(keyed(all parts)), by the same associativity. */
  def foldSnapshotStates(states: DataFrame): DataFrame =
    lastWrite(reentered(states, "n_changes"), "n_changes", sum("w"))

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
    * keyed input (the persisted [[routedKeyed]] memo) — cheaper than
    * pinning the split, whose lineage-cut materialization of the full
    * keyed frame costs more than the per-branch cache reads it saves. */
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
    * latest state, keep every version with its validity interval. Each
    * non-delete change of (base, entity) opens a version at its LSN; the
    * version closes at the LSN of the entity's NEXT change of ANY kind
    * (a delete closes the open version without opening one — the
    * tombstone semantics of cdcSnapshot, expressed as intervals).
    * `valid_to` = −1 marks a still-open version; `is_current` = 1 only
    * for open versions, so an entity whose history ends in a delete has
    * none. Version numbers count non-delete changes in write order
    * (LSN, then statement index within the transaction document).
    *
    * Scale shape: one shuffle on (base, entity) of the 5 keyed columns,
    * shared by both windows (lead over all changes, row_number over the
    * surviving ones); history length per entity is bounded by that
    * entity's change count. */
  def cdcScd2(spark: SparkSession, dir: String): DataFrame =
    routedKeyed(spark, dir)
      .where(col("uid").isNotNull)
      .withColumn("nxt", lead(col("lsn"), 1).over(perEntW))
      .where(col("kind") =!= "delete")
      .withColumn("version", row_number().over(perEntW).cast("long"))
      .select(col("base"), col("uid"), col("version"),
        col("lsn").as("valid_from"),
        coalesce(col("nxt"), lit(-1L)).as("valid_to"),
        when(col("nxt").isNull, 1L).otherwise(0L).as("is_current"),
        col("kind"))
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

  private def perEntW = {
    import org.apache.spark.sql.expressions.Window
    Window.partitionBy("base", "uid").orderBy("lsn", "idx")
  }

  private val nonDelete: Column = when(col("kind") =!= "delete", 1L).otherwise(0L)

  /** Immutable closed versions of the pre-L history (next change exists
    * within pre): at 100 TB these ship with the checkpoint verbatim,
    * append-only — the merge never re-reads or re-sorts them. */
  def scd2Closed(pre: DataFrame): DataFrame =
    pre.withColumn("nxt", lead(col("lsn"), 1).over(perEntW))
      .where(col("kind") =!= "delete")
      .withColumn("version", row_number().over(perEntW).cast("long"))
      .where(col("nxt").isNotNull)
      .select(col("base"), col("uid"), col("version"),
        col("lsn").as("valid_from"), col("nxt").as("valid_to"),
        lit(0L).as("is_current"), col("kind"))

  /** 1 row per pre entity: its last change (the open version, if any, is
    * derivable: open iff last_kind ≠ delete) and its non-delete version
    * count. Schema: (base, uid, last_lsn, last_idx, last_kind,
    * n_versions). */
  def scd2Cursor(pre: DataFrame): DataFrame =
    lastWrite(pre, "n_versions", sum(nonDelete))

  /** Advance a [[scd2Cursor]] over the keyed changes that follow it:
    * ≡ scd2Cursor(pre ∪ delta). The streaming SCD2 twin's state. */
  def mergeScd2Cursor(cursor: DataFrame, delta: DataFrame): DataFrame =
    mergeLastWrite(cursor, "n_versions", delta, nonDelete)

  /** The rows the merge PRODUCES: pre-L open versions resolved against
    * the delta (closed at their entity's first delta change, or kept
    * open), plus the delta's own versions numbered from the cursor. The
    * cursor re-enters as each entity's first row (every delta change
    * follows it in (lsn, idx)), weighing its version count; one window
    * over those rows and the delta's closes the open version (lead) and
    * numbers the delta versions (running weight), so the cursor is read
    * once. Cost tracks |cursor| + |delta| only. */
  def scd2New(cursor: DataFrame, delta: DataFrame): DataFrame =
    reentered(cursor, "n_versions")
      .unionByName(delta.select(col("base"), col("uid"), col("lsn"), col("idx"),
        col("kind"), nonDelete.as("w")))
      .withColumn("nxt", lead(col("lsn"), 1).over(perEntW))
      .withColumn("version",
        sum(col("w")).over(perEntW.rowsBetween(Long.MinValue, 0L)))
      .where(col("kind") =!= "delete")
      .select(col("base"), col("uid"), col("version"),
        col("lsn").as("valid_from"),
        coalesce(col("nxt"), lit(-1L)).as("valid_to"),
        when(col("nxt").isNull, 1L).otherwise(0L).as("is_current"),
        col("kind"))

  /** The checkpoint+merge plan over explicit pre/delta frames (both in
    * [[keyed]] shape, uid non-null) — shared by the registered query and
    * IncrementalSnapshotSpec's multi-split proof.
    *
    * Closed is the only pre-side WINDOW; the cursor is a
    * map-side-combined AGGREGATE (per-entity partials cross the exchange,
    * not rows) with one consumer, the |cursor| + |delta| window of
    * [[scd2New]]. */
  def scd2Merged(pre: DataFrame, delta: DataFrame): DataFrame = {
    val closed = scd2Closed(pre)
    val cursor = scd2Cursor(pre)
    scd2New(cursor, delta)
      .unionByName(closed, allowMissingColumns = false)
      .select("base", "uid", "version", "valid_from", "valid_to",
        "is_current", "kind")
      .orderBy("base", "uid", "version")
  }

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
