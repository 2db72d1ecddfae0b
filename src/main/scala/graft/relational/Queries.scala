package graft.relational

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables

/** Relational core: the aggregate / join / window shapes the reference's
  * downstream consumers run over change-fed tables, expressed as TPC-H-like
  * plans over the driver testdata (SURVEY.md §2 rows 13-17).
  *
  * Determinism contract (SURVEY.md §4): every money/quantity double is
  * quantized to int64 (cents, or 1e-4/1e-6 dollar ticks after integer
  * percent multiplies) BEFORE aggregation, so sums are order-independent
  * integer arithmetic and hash-match DuckDB bit-for-bit. Dates cross the
  * oracle boundary as yyyy-MM-dd strings.
  *
  * Scale notes (100 TB): q1 is a pure map-side-combine groupBy on two
  * 1-char keys; q3/q5 shuffle only on join keys with region/nation
  * broadcast; window_topn / sessionize partition by customer/user — keys
  * with million-scale cardinality, so no single-partition windows.
  */
object Queries {

  private def cents(c: Column): Column =
    round(c * 100).cast("long")

  // ---- q1_agg: filtered aggregate (TPC-H Q1 shape) ------------------------

  def q1Agg(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .where(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
      .select(
        col("l_returnflag"), col("l_linestatus"),
        cents(col("l_quantity")).as("qty_c"),
        cents(col("l_extendedprice")).as("ext_c"),
        round(col("l_discount") * 100).cast("long").as("disc_p"),
        round(col("l_tax") * 100).cast("long").as("tax_p"))
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        sum("qty_c").as("sum_qty_cents"),
        sum("ext_c").as("sum_base_cents"),
        sum(col("ext_c") * (lit(100L) - col("disc_p"))).as("sum_disc_e4"),
        sum(col("ext_c") * (lit(100L) - col("disc_p")) * (lit(100L) + col("tax_p")))
          .as("sum_charge_e6"),
        count(lit(1)).as("count_order"))
      .orderBy("l_returnflag", "l_linestatus")

  val q1AggSql: String =
    """SELECT l_returnflag, l_linestatus,
      |  CAST(sum(CAST(round(l_quantity*100) AS BIGINT)) AS BIGINT) AS sum_qty_cents,
      |  CAST(sum(CAST(round(l_extendedprice*100) AS BIGINT)) AS BIGINT) AS sum_base_cents,
      |  CAST(sum(CAST(round(l_extendedprice*100) AS BIGINT)
      |           * (100 - CAST(round(l_discount*100) AS BIGINT))) AS BIGINT) AS sum_disc_e4,
      |  CAST(sum(CAST(round(l_extendedprice*100) AS BIGINT)
      |           * (100 - CAST(round(l_discount*100) AS BIGINT))
      |           * (100 + CAST(round(l_tax*100) AS BIGINT))) AS BIGINT) AS sum_charge_e6,
      |  count(*) AS count_order
      |FROM lineitem
      |WHERE l_shipdate <= TIMESTAMP '1998-09-02'
      |GROUP BY l_returnflag, l_linestatus
      |ORDER BY l_returnflag, l_linestatus""".stripMargin

  // ---- q3_join: multi-join + group-by (TPC-H Q3 shape) --------------------

  def q3Join(spark: SparkSession, dir: String): DataFrame = {
    val cust = Tables.customer(spark, dir)
      .where(col("c_mktsegment") === "BUILDING").select("c_custkey")
    val ord = Tables.orders(spark, dir)
      .where(col("o_orderdate") < lit("1997-01-01").cast("timestamp"))
      .select("o_orderkey", "o_custkey", "o_orderdate", "o_orderpriority")
    val li = Tables.lineitem(spark, dir)
      .where(col("l_shipdate") > lit("1997-01-01").cast("timestamp"))
      .select(col("l_orderkey"),
        (cents(col("l_extendedprice")) * (lit(100L) - round(col("l_discount") * 100).cast("long")))
          .as("rev_e4"))
    cust.join(ord, col("c_custkey") === col("o_custkey"))
      .join(li, col("o_orderkey") === col("l_orderkey"))
      .groupBy(col("l_orderkey"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("orderdate"),
        col("o_orderpriority"))
      .agg(sum("rev_e4").as("revenue_e4"))
      .orderBy(col("revenue_e4").desc, col("l_orderkey"))
      .limit(10)
  }

  val q3JoinSql: String =
    """SELECT l_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS orderdate,
      |       o_orderpriority,
      |       CAST(sum(CAST(round(l_extendedprice*100) AS BIGINT)
      |                * (100 - CAST(round(l_discount*100) AS BIGINT))) AS BIGINT) AS revenue_e4
      |FROM customer, orders, lineitem
      |WHERE c_mktsegment = 'BUILDING'
      |  AND c_custkey = o_custkey AND l_orderkey = o_orderkey
      |  AND o_orderdate < TIMESTAMP '1997-01-01'
      |  AND l_shipdate > TIMESTAMP '1997-01-01'
      |GROUP BY l_orderkey, orderdate, o_orderpriority
      |ORDER BY revenue_e4 DESC, l_orderkey
      |LIMIT 10""".stripMargin

  // ---- q5_broadcast: 5-way star join through region (TPC-H Q5 shape) ------

  def q5Broadcast(spark: SparkSession, dir: String): DataFrame = {
    val region = broadcast(Tables.region(spark, dir).where(col("r_name") === "ASIA"))
    val nation = broadcast(Tables.nation(spark, dir))
    val cust = Tables.customer(spark, dir).select("c_custkey", "c_nationkey")
    val ord = Tables.orders(spark, dir)
      .where(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
        col("o_orderdate") < lit("1997-01-01").cast("timestamp"))
      .select("o_orderkey", "o_custkey")
    val li = Tables.lineitem(spark, dir).select(col("l_orderkey"), col("l_suppkey"),
      (cents(col("l_extendedprice")) * (lit(100L) - round(col("l_discount") * 100).cast("long")))
        .as("rev_e4"))
    val supp = Tables.supplier(spark, dir).select("s_suppkey", "s_nationkey")
    cust.join(ord, col("c_custkey") === col("o_custkey"))
      .join(li, col("o_orderkey") === col("l_orderkey"))
      .join(supp, col("l_suppkey") === col("s_suppkey") &&
        col("c_nationkey") === col("s_nationkey"))
      .join(nation, col("s_nationkey") === col("n_nationkey"))
      .join(region, col("n_regionkey") === col("r_regionkey"))
      .groupBy("n_name")
      .agg(sum("rev_e4").as("revenue_e4"))
      .orderBy(col("revenue_e4").desc, col("n_name"))
  }

  val q5BroadcastSql: String =
    """SELECT n_name,
      |       CAST(sum(CAST(round(l_extendedprice*100) AS BIGINT)
      |                * (100 - CAST(round(l_discount*100) AS BIGINT))) AS BIGINT) AS revenue_e4
      |FROM customer, orders, lineitem, supplier, nation, region
      |WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
      |  AND l_suppkey = s_suppkey AND c_nationkey = s_nationkey
      |  AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
      |  AND r_name = 'ASIA'
      |  AND o_orderdate >= TIMESTAMP '1996-01-01'
      |  AND o_orderdate < TIMESTAMP '1997-01-01'
      |GROUP BY n_name
      |ORDER BY revenue_e4 DESC, n_name""".stripMargin

  // ---- window_topn: top 3 orders per customer -----------------------------

  def windowTopn(spark: SparkSession, dir: String): DataFrame = {
    Tables.orders(spark, dir)
      .select(col("o_custkey"), col("o_orderkey"),
        cents(col("o_totalprice")).as("price_cents"))
      .withColumn("rnk", row_number().over(
        Window.partitionBy("o_custkey")
          .orderBy(col("price_cents").desc, col("o_orderkey"))))
      .where(col("rnk") <= 3)
      .select("o_custkey", "rnk", "o_orderkey", "price_cents")
      .orderBy("o_custkey", "rnk")
  }

  val windowTopnSql: String =
    """SELECT o_custkey, rnk, o_orderkey, price_cents FROM (
      |  SELECT o_custkey, o_orderkey,
      |         CAST(round(o_totalprice*100) AS BIGINT) AS price_cents,
      |         row_number() OVER (PARTITION BY o_custkey
      |           ORDER BY CAST(round(o_totalprice*100) AS BIGINT) DESC, o_orderkey) AS rnk
      |  FROM orders)
      |WHERE rnk <= 3
      |ORDER BY o_custkey, rnk""".stripMargin

  // ---- events_sessionize: gap-based sessions per user ---------------------

  /** 30-minute inactivity gap closes a session — the batch analogue of the
    * reference's per-client session lifetime. events.ts is read as raw
    * nanoseconds (Tables.scala nanosAsLong) and floored to microseconds with
    * integer `div` (DuckDB's parquet reader holds TIMESTAMP at µs, so µs is
    * the common precision), making the gap compare pure int64 on both
    * sides. */
  /** Typed 30-minute-gap sessionized event frame (user_id, ts µs,
    * event_id, event_type, session_id), memoized as a shared subtree:
    * the lag + running-sum session assignment — an events scan plus two
    * window passes over one user_id exchange — was re-derived verbatim
    * by events_sessionize, event_transitions and session_paths. Build it
    * once; each consumer aggregates/windows on top. Carrying event_type
    * cannot change the session ids (the windows never read it), so
    * events_sessionize's output is unchanged. session_native deliberately
    * does NOT ride this frame — exercising Spark's native session_window
    * aggregation instead of this formulation is that row's point.
    *
    * Footprint: PER-EVENT — |events| rows × 5 narrow
    * columns, the largest relational memo; it scales with the fact
    * table, not with an aggregate. The eager count + cache trade one
    * extra materialization against three consumers' repeated
    * scan+2-window chains; a deployment running ONLY events_sessionize
    * should read the frame as that query's own intermediate (it pays
    * the same exchange either way, plus the persist write). */
  private def sessionedFrame(spark: SparkSession, dir: String): DataFrame = {
    val gapUs = 30L * 60 * 1000 * 1000
    Tables.memoPersist(spark, s"rel.sessioned:$gapUs:$dir") {
      val byTime = Window.partitionBy("user_id").orderBy("ts", "event_id")
      Tables.events(spark, dir)
        .select(col("user_id"), expr("ts div 1000").as("ts"),
          col("event_id"), col("event_type"))
        .withColumn("prev_ts", lag("ts", 1).over(byTime))
        .withColumn("is_new",
          when(col("prev_ts").isNull || col("ts") - col("prev_ts") > gapUs, 1L)
            .otherwise(0L))
        .withColumn("session_id", sum("is_new").over(
          byTime.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .select("user_id", "ts", "event_id", "event_type", "session_id")
    }
  }

  def eventsSessionize(spark: SparkSession, dir: String): DataFrame =
    sessionedFrame(spark, dir)
      .groupBy("user_id", "session_id")
      .agg(count(lit(1)).as("n_events"),
        min("ts").as("start_us"), max("ts").as("end_us"),
        min("event_id").as("first_event_id"))
      .orderBy("user_id", "session_id")

  // ---- session_native: Spark's built-in session_window ---------------------

  /** The same 30-minute gap sessions expressed through Spark's NATIVE
    * `session_window` aggregation instead of the lag/running-sum window
    * pair — the operator Structured Streaming uses for watermarked
    * session state, exercised here in batch where the oracle can check
    * it. Spark merges overlapping per-event [ts, ts+gap) intervals;
    * window.end is therefore last_ts + gap, which the gap-CTE oracle
    * reproduces as max(ts) + gap. Timestamps round-trip long µs →
    * TimestampType → long µs so the arithmetic both engines compare is
    * int64. One shuffle on user_id, same as the lag formulation — but
    * only ONE window-function-free aggregation, no two-pass lag + sum. */
  def sessionNative(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .select(col("user_id"), expr("ts div 1000").as("ts_us"), col("event_id"))
      .withColumn("tse", expr("timestamp_micros(ts_us)"))
      .groupBy(col("user_id"), session_window(col("tse"), "30 minutes").as("w"))
      .agg(count(lit(1)).as("n_events"), min("ts_us").as("start_us"),
        min("event_id").as("first_event_id"))
      .select(col("user_id"), col("start_us"),
        expr("unix_micros(w.end)").as("gap_end_us"),
        col("n_events"), col("first_event_id"))
      .orderBy("user_id", "start_us")

  /** Shared oracle gap-CTE (e/marked/sessions): ONE definition of the
    * 30-minute-gap session assignment serves both session queries, so the
    * gap constant and tie-break cannot drift between them. */
  val SessionsCte: String =
    """e AS (
      |  SELECT user_id, epoch_us(ts) AS ts, event_id FROM events),
      |marked AS (
      |  SELECT user_id, ts, event_id,
      |         CASE WHEN lag(ts) OVER w IS NULL
      |                OR ts - lag(ts) OVER w > 1800000000 THEN 1 ELSE 0 END AS is_new
      |  FROM e
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      |sessions AS (
      |  SELECT user_id, ts, event_id,
      |         CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |           ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
      |  FROM marked)""".stripMargin

  val sessionNativeSql: String =
    s"""WITH $SessionsCte
      |SELECT user_id, min(ts) AS start_us,
      |       max(ts) + 1800000000 AS gap_end_us,
      |       count(*) AS n_events, min(event_id) AS first_event_id
      |FROM sessions
      |GROUP BY user_id, session_id
      |ORDER BY user_id, start_us""".stripMargin

  // ---- events_range_join: interval self-join without a cartesian ----------

  /** Range join via interval bucketing (the compose-first answer to a
    * range-join operator): pairs of same-user events at most RangeUs
    * apart. The later event joins on its own time bucket AND the previous
    * one (an event pair can straddle a boundary), so candidates come only
    * from an equi-join on (user_id, bucket) — never an all-pairs join —
    * and the exact range predicate filters the candidates. At 100 TB the
    * shuffle is on (user, bucket) with bucket width = the range, which
    * bounds each bucket's pair count. */
  val RangeUs: Long = 60L * 1000 * 1000 // 1 minute

  def eventsRangeJoin(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(col("user_id"), expr("ts div 1000").as("ts"), col("event_id"))
    val a = ev.select(col("user_id"), col("ts").as("ts_a"), col("event_id").as("id_a"))
      .withColumn("bucket", expr(s"ts_a div $RangeUs"))
    val b = ev.select(col("user_id"), col("ts").as("ts_b"),
      col("event_id").as("id_b"))
      .withColumn("bucket", explode(array(
        expr(s"ts_b div $RangeUs"), expr(s"ts_b div $RangeUs") - 1)))
    a.join(b, Seq("user_id", "bucket"))
      .where((col("ts_b") - col("ts_a")).between(0, RangeUs) &&
        (col("ts_b") > col("ts_a") ||
          (col("ts_b") === col("ts_a") && col("id_a") < col("id_b"))))
      // no distinct needed: b's two exploded buckets differ, so a pair can
      // match the equi-join on at most one of them — a dedup here would
      // only add a shuffle (and hide an engine divergence, since the
      // oracle has no DISTINCT)
      .select(col("user_id"), col("id_a"), col("id_b"),
        (col("ts_b") - col("ts_a")).as("dt_us"))
      .orderBy("user_id", "id_a", "id_b")
  }

  val eventsRangeJoinSql: String =
    s"""WITH e AS (
       |  SELECT user_id, epoch_us(ts) AS ts, event_id FROM events)
       |SELECT a.user_id AS user_id, a.event_id AS id_a, b.event_id AS id_b,
       |       b.ts - a.ts AS dt_us
       |FROM e a JOIN e b
       |  ON a.user_id = b.user_id
       | AND b.ts - a.ts BETWEEN 0 AND $RangeUs
       | AND (b.ts > a.ts OR (b.ts = a.ts AND a.event_id < b.event_id))
       |ORDER BY a.user_id, id_a, id_b""".stripMargin

  // ---- user_window_1h: value-range sliding-window features ----------------

  /** Per-event trailing-hour features over a RANGE frame: for every event,
    * how many events and how much value the same user produced in the
    * preceding hour (inclusive). The frame is VALUE-based (rangeBetween on
    * the µs timestamp), not row-based — ties on ts share one frame, so the
    * result is deterministic without a total order inside the frame, and
    * the window is the standard feature-engineering shape (trailing
    * activity counts) a training pipeline derives per interaction. One
    * shuffle on user_id, same scale story as sessionize. */
  val TrailUs: Long = 3600L * 1000 * 1000

  def userWindow1h(spark: SparkSession, dir: String): DataFrame = {
    val frame = Window.partitionBy("user_id").orderBy("ts")
      .rangeBetween(-TrailUs, 0)
    Tables.events(spark, dir)
      .select(col("user_id"), expr("ts div 1000").as("ts"), col("event_id"),
        cents(col("value")).as("value_cents"))
      .withColumn("n_1h", count(lit(1)).over(frame))
      .withColumn("sum_cents_1h", sum("value_cents").over(frame))
      .select("user_id", "event_id", "ts", "value_cents", "n_1h", "sum_cents_1h")
      .orderBy("user_id", "ts", "event_id")
  }

  val userWindow1hSql: String =
    s"""WITH e AS (
       |  SELECT user_id, epoch_us(ts) AS ts, event_id,
       |         CAST(round(value * 100) AS BIGINT) AS value_cents
       |  FROM events)
       |SELECT user_id, event_id, ts, value_cents,
       |       count(*) OVER w AS n_1h,
       |       CAST(sum(value_cents) OVER w AS BIGINT) AS sum_cents_1h
       |FROM e
       |WINDOW w AS (PARTITION BY user_id ORDER BY ts
       |             RANGE BETWEEN $TrailUs PRECEDING AND CURRENT ROW)
       |ORDER BY user_id, ts, event_id""".stripMargin

  // ---- agg_skew_distinct: two-phase exact distinct under key skew ---------

  /** Exact per-type distinct users + value mass with the distinct phase
    * written as its own shuffle: phase 1 dedups on the COMPOSITE
    * (event_type, user_id) key — high cardinality, so a handful of hot
    * event types cannot pin the work to a handful of reducers the way
    * `count(DISTINCT)` shuffled on the group key alone would at 100 TB —
    * and phase 2 is a plain count on the already-distinct rows. Spark's
    * optimizer performs this expansion for single distinct aggregates
    * itself; writing it explicitly keeps the shuffle key visible (and
    * extendable with a salt stage) and lets the algebraic sums travel a
    * separate partial-agg path instead of the Expand operator. */
  def aggSkewDistinct(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(col("event_type"), col("user_id"), cents(col("value")).as("cents"))
    val users = ev.select("event_type", "user_id").distinct()
      .groupBy("event_type").agg(count(lit(1)).as("n_users"))
    val sums = ev.groupBy("event_type")
      .agg(count(lit(1)).as("n_events"), sum("cents").as("sum_cents"))
    sums.join(users, Seq("event_type"))
      .select("event_type", "n_events", "sum_cents", "n_users")
      .orderBy("event_type")
  }

  val aggSkewDistinctSql: String =
    """SELECT event_type, count(*) AS n_events,
      |       CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_cents,
      |       count(DISTINCT user_id) AS n_users
      |FROM events
      |GROUP BY event_type ORDER BY event_type""".stripMargin

  // ---- events_pivot: per-user event-type matrix ---------------------------

  /** Per-user activity matrix through the `pivot` API with an EXPLICIT
    * value list: without one, pivot first collects the distinct pivot
    * values to the driver — an extra job and a correctness hazard (a new
    * event type would silently change the schema); with one, the plan is
    * a single map-side-combined groupBy whose aggregate buffers carry
    * five conditional counts. The cents sum pivots on the same pass. */
  val EventTypes = Seq("click", "error", "purchase", "signup", "view")

  def eventsPivot(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .select(col("user_id"), col("event_type"), cents(col("value")).as("cents"))
      .groupBy("user_id")
      .pivot("event_type", EventTypes)
      .agg(count(lit(1)).as("n"), sum("cents").as("cents"))
      .na.fill(0L)
      .orderBy("user_id")

  val eventsPivotSql: String = {
    val cols = EventTypes.map { t =>
      s"""       coalesce(CAST(sum(CASE WHEN event_type = '$t' THEN 1 END) AS BIGINT), 0) AS ${t}_n,
         |       coalesce(CAST(sum(CASE WHEN event_type = '$t'
         |           THEN CAST(round(value * 100) AS BIGINT) END) AS BIGINT), 0) AS ${t}_cents""".stripMargin
    }.mkString(",\n")
    s"""SELECT user_id,
       |$cols
       |FROM events
       |GROUP BY user_id ORDER BY user_id""".stripMargin
  }

  // ---- events_rollup: multi-level rollup with grouping flags --------------

  /** Native ROLLUP over (event_type, day-of-week): the (type, dow),
    * (type), () subtotal levels in ONE pass, each row tagged with an
    * explicit grouping id computed from per-column `grouping()` bits
    * (gid = 2·grouping(type) + grouping(dow)) rather than the engines'
    * `grouping_id()` — bit order is convention, the explicit sum is
    * not. Rollup NULLs are re-sentineled ('ALL' / -1, values outside
    * both domains) so the subtotal rows survive the hash compare and a
    * consumer never confuses a subtotal with a data NULL. Day-of-week
    * is the events_dow_hour pure epoch-integer derivation.
    *
    * Scale shape: Catalyst plans rollup as a 3×Expand feeding one
    * map-side-combined partial aggregate — the fact table is read once
    * and nothing wider than (≤5 types × 7 dows + levels) keys crosses
    * the shuffle; the exact distinct-user count rides the standard
    * two-phase distinct-aggregate expansion on (gid, keys, user_id),
    * whose key cardinality is user-scale, never single-reducer. */
  def eventsRollup(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .withColumn("es", expr("(ts - pmod(ts, 1000000000)) div 1000000000"))
      .withColumn("dow", expr("pmod((es - pmod(es, 86400)) div 86400 + 3, 7)"))
      .select(col("event_type"), col("dow"), col("user_id"),
        cents(col("value")).as("cents"))
      .rollup("event_type", "dow")
      .agg(
        (grouping(col("event_type")) * 2 + grouping(col("dow")))
          .cast("long").as("gid"),
        count(lit(1)).as("n_events"),
        sum("cents").as("sum_cents"),
        countDistinct("user_id").as("n_users"))
      .select(
        coalesce(col("event_type"), lit("ALL")).as("event_type"),
        coalesce(col("dow"), lit(-1L)).as("dow"),
        col("gid"), col("n_events"), col("sum_cents"), col("n_users"))
      .orderBy("gid", "event_type", "dow")

  val eventsRollupSql: String =
    """WITH e AS (
      |  SELECT event_type, user_id,
      |         CAST(floor(epoch(ts)) AS BIGINT) AS es,
      |         CAST(round(value * 100) AS BIGINT) AS cents
      |  FROM events),
      |d AS (
      |  SELECT event_type, user_id, cents,
      |         (((es - ((es % 86400 + 86400) % 86400)) // 86400 + 3) % 7 + 7) % 7 AS dow
      |  FROM e)
      |SELECT coalesce(event_type, 'ALL') AS event_type,
      |       coalesce(dow, -1) AS dow,
      |       CAST(GROUPING(event_type) * 2 + GROUPING(dow) AS BIGINT) AS gid,
      |       CAST(count(*) AS BIGINT) AS n_events,
      |       CAST(sum(cents) AS BIGINT) AS sum_cents,
      |       CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
      |FROM d
      |GROUP BY ROLLUP(event_type, dow)
      |ORDER BY gid, event_type, dow""".stripMargin

  // ---- user_decay_score: half-life time-decayed activity scoring ----------

  /** Per-user recency-weighted activity at the corpus high-water mark:
    * each event contributes 1e6 halved once per elapsed 7-day half-life
    * (piecewise-constant exponential decay), so the score is an EXACT
    * integer sum — decay as a capped bit shift, never a Math.pow whose
    * accumulation order the engines could disagree on. The shift count
    * is clamped to 62 on BOTH engines: JVM long shifts use only the low
    * 6 bits of the count, so an unclamped 64-period-old event would
    * wrap to full weight instead of zero. This is the freshness prior a
    * training pipeline mixes into sampling weights and a feature store
    * serves as "recent engagement".
    *
    * Scale shape: the high-water mark is a 1-row aggregate broadcast
    * under the fact scan (one pass, no window), then one map-side-
    * combined groupBy on user_id — cardinality user-scale, no skew key,
    * nothing wider than (user, 3 longs) crosses the shuffle. */
  val DecayHalfLifeDays = 7L

  def userDecayScore(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .withColumn("es", expr("(ts - pmod(ts, 1000000000)) div 1000000000"))
    val hi = ev.agg(max("es").as("hi_es"))
    // bounded-cross: broadcast 1-row high-water timestamp
    ev.crossJoin(broadcast(hi))
      .withColumn("age_days", expr("(hi_es - es) div 86400"))
      .withColumn("w", expr(
        s"shiftright(1000000L, CAST(least(age_days div $DecayHalfLifeDays, 62) AS INT))"))
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_events"),
        sum("w").as("decay_score"),
        min("age_days").as("last_age_days"))
      .orderBy("user_id")
  }

  val userDecayScoreSql: String =
    s"""WITH e AS (
       |  SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS es FROM events),
       |hi AS (SELECT max(es) AS hi_es FROM e),
       |w AS (
       |  SELECT user_id, (hi_es - es) // 86400 AS age_days,
       |         CAST(1000000 AS BIGINT)
       |           >> CAST(least((hi_es - es) // 86400 // $DecayHalfLifeDays, 62) AS INT)
       |           AS w
       |  FROM e, hi)
       |SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
       |       CAST(sum(w) AS BIGINT) AS decay_score,
       |       min(age_days) AS last_age_days
       |FROM w GROUP BY user_id ORDER BY user_id""".stripMargin

  // ---- events_retention: week-over-week cohort retention ------------------

  /** Week-over-week retention: of the users active in week w, how many
    * are also active in week w+1. Two map-side-combined distinct
    * (user, week) reductions and one co-partitioned self-join on
    * (user_id, week) — the classic cohort query, shaped so the join key
    * carries the user (high cardinality), never the week alone. Week ids
    * are integer µs-epoch division, exact on both engines. */
  val WeekUs = 7L * 86400 * 1000 * 1000

  def eventsRetention(spark: SparkSession, dir: String): DataFrame = {
    val uw = Tables.events(spark, dir)
      .select(col("user_id"), expr(s"ts div 1000 div $WeekUs").as("week"))
      .distinct()
    val nxt = uw.select(col("user_id"), (col("week") - 1).as("week"))
      .withColumnRenamed("user_id", "u2")
    val perWeek = uw.join(nxt,
        uw("user_id") === col("u2") && uw("week") === nxt("week"), "left")
      .groupBy(uw("week").as("week"))
      .agg(count(lit(1)).as("n_active"),
        sum(when(col("u2").isNotNull, 1L).otherwise(0L)).as("n_retained"))
    perWeek
      .withColumn("retention_e4",
        expr("CAST(floor(1.0e4 * n_retained / n_active) AS BIGINT)"))
      .orderBy("week")
  }

  val eventsRetentionSql: String =
    s"""WITH uw AS (
       |  SELECT DISTINCT user_id, epoch_us(ts) // $WeekUs AS week
       |  FROM events),
       |j AS (
       |  SELECT a.week, a.user_id,
       |         CASE WHEN b.user_id IS NULL THEN 0 ELSE 1 END AS retained
       |  FROM uw a
       |  LEFT JOIN uw b ON a.user_id = b.user_id AND b.week = a.week + 1)
       |SELECT week, count(*) AS n_active,
       |       CAST(sum(retained) AS BIGINT) AS n_retained,
       |       CAST(floor(1.0e4 * sum(retained) / count(*)) AS BIGINT) AS retention_e4
       |FROM j GROUP BY week ORDER BY week""".stripMargin

  // ---- event_anomalies: per-group z-score outliers ------------------------

  /** Per-type 2σ outliers: group moments from one map-side-combined
    * aggregation (counts, cent sums, DECIMAL(38,0) squared sums — a Long
    * squared-sum wraps at real scale), broadcast back onto the stream as
    * a 5-row dim. Determinism across engines: the moments are exact
    * integers; mean/std are derived with ONE textually identical double
    * expression sequence on both sides (÷, ×, sqrt are all IEEE
    * correctly-rounded, so identical operand order ⇒ identical bits), and
    * the only emitted float is floored e4 fixed point. */
  def eventAnomalies(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(col("event_id"), col("event_type"), cents(col("value")).as("cents"))
    // the wide cast sits on an OPERAND so the square itself is decimal —
    // a LongType multiply would wrap before any cast once |cents| > ~3e9
    val stats = ev.groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum("cents").as("sum_cents"),
        sum(col("cents").cast("decimal(38,0)") * col("cents")).as("sum_sq"))
    ev.join(broadcast(stats), Seq("event_type"))
      .withColumn("mean", expr("CAST(sum_cents AS DOUBLE) / n"))
      // float cancellation can round an all-equal group's variance to a
      // small NEGATIVE number; the CASE keeps sqrt off that path (DuckDB
      // would abort on sqrt(-x); Spark would emit NaN) on BOTH engines
      .withColumn("varr", expr(
        """CAST(sum_sq AS DOUBLE) / n
          | - (CAST(sum_cents AS DOUBLE) / n) * (CAST(sum_cents AS DOUBLE) / n)""".stripMargin))
      .withColumn("std", expr("CASE WHEN varr > 0 THEN sqrt(varr) ELSE 0.0e0 END"))
      .where(col("std") > 0 && expr("abs(cents - mean) > 2.0e0 * std"))
      .select(col("event_id"), col("event_type"), col("cents"),
        expr("CAST(floor(1.0e4 * abs(cents - mean) / std) AS BIGINT)").as("dev_e4"))
      .orderBy("event_id")
  }

  val eventAnomaliesSql: String =
    """WITH e AS (
      |  SELECT event_id, event_type,
      |         CAST(round(value * 100) AS BIGINT) AS cents
      |  FROM events),
      |stats AS (
      |  SELECT event_type, count(*) AS n,
      |         CAST(sum(cents) AS BIGINT) AS sum_cents,
      |         sum(CAST(cents AS HUGEINT) * cents) AS sum_sq
      |  FROM e GROUP BY event_type),
      |v AS (
      |  SELECT e.event_id, e.event_type, e.cents,
      |         CAST(sum_cents AS DOUBLE) / n AS mean,
      |         CAST(sum_sq AS DOUBLE) / n
      |           - (CAST(sum_cents AS DOUBLE) / n) * (CAST(sum_cents AS DOUBLE) / n) AS varr
      |  FROM e JOIN stats USING (event_type)),
      |z AS (
      |  SELECT event_id, event_type, cents, mean,
      |         CASE WHEN varr > 0 THEN sqrt(varr) ELSE 0.0e0 END AS std
      |  FROM v)
      |SELECT event_id, event_type, cents,
      |       CAST(floor(1.0e4 * abs(cents - mean) / std) AS BIGINT) AS dev_e4
      |FROM z
      |WHERE std > 0 AND abs(cents - mean) > 2.0e0 * std
      |ORDER BY event_id""".stripMargin

  // ---- events_asof: as-of attribution join --------------------------------

  /** As-of join expressed as a window (the compose-first rule: Spark has
    * no ASOF JOIN operator, but per-key "most recent prior row" is exactly
    * `last(..., ignoreNulls)` over an unbounded-preceding window — one
    * shuffle on the key, no range join, no cartesian): every event is
    * attributed to the same user's most recent signup at or before it. */
  def eventsAsof(spark: SparkSession, dir: String): DataFrame = {
    val byTime = Window.partitionBy("user_id").orderBy("ts", "event_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.events(spark, dir)
      .select(col("user_id"), expr("ts div 1000").as("ts"), col("event_id"),
        col("event_type"))
      .withColumn("signup_ts",
        last(when(col("event_type") === "signup", col("ts")), ignoreNulls = true)
          .over(byTime))
      .withColumn("signup_age_us", col("ts") - col("signup_ts"))
      .select("user_id", "event_id", "ts", "signup_ts", "signup_age_us")
      .orderBy("user_id", "ts", "event_id")
  }

  val eventsAsofSql: String =
    """WITH e AS (
      |  SELECT user_id, epoch_us(ts) AS ts, event_id, event_type FROM events)
      |SELECT user_id, event_id, ts,
      |       last_value(CASE WHEN event_type = 'signup' THEN ts END IGNORE NULLS)
      |         OVER (PARTITION BY user_id ORDER BY ts, event_id
      |               ROWS UNBOUNDED PRECEDING) AS signup_ts,
      |       ts - last_value(CASE WHEN event_type = 'signup' THEN ts END IGNORE NULLS)
      |         OVER (PARTITION BY user_id ORDER BY ts, event_id
      |               ROWS UNBOUNDED PRECEDING) AS signup_age_us
      |FROM e
      |ORDER BY user_id, ts, event_id""".stripMargin

  val eventsSessionizeSql: String =
    s"""WITH $SessionsCte
      |SELECT user_id, session_id, count(*) AS n_events,
      |       min(ts) AS start_us, max(ts) AS end_us,
      |       min(event_id) AS first_event_id
      |FROM sessions
      |GROUP BY user_id, session_id
      |ORDER BY user_id, session_id""".stripMargin

  // ---- join_salted: salted shuffle join under fact-side key skew ----------

  /** Salted fact⋈dim join — the standard mitigation when the dim side is
    * too large to broadcast AND the fact side's join key is skewed (a
    * handful of hot entities owning a disproportionate share of events,
    * exactly this events table's shape): the dim side is replicated once
    * per salt bucket, the fact side derives a deterministic salt from a
    * NON-key column, and the join key becomes (key, salt) — a hot key's
    * rows now land on SaltBuckets reducers instead of one. The `merge`
    * hint pins the sort-merge shuffle plan the technique exists for (a
    * broadcast would bypass the skew problem at this SF and silently
    * un-demonstrate the operator; at 100 TB the optimizer couldn't
    * broadcast anyway). Dim bloat is bounded by SaltBuckets × |dim| —
    * chosen, not emergent — and AQE's skew splitting stacks on top for
    * residual imbalance. The defining invariant: the salted plan's
    * result is IDENTICAL to the unsalted join, which is exactly what the
    * oracle states (it knows nothing of salt). */
  val SaltBuckets = 8

  def joinSalted(spark: SparkSession, dir: String): DataFrame = {
    val fact = Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"), cents(col("value")).as("value_cents"))
      .withColumn("salt", col("event_id") % SaltBuckets)
    val dim = Tables.customer(spark, dir)
      .select(col("c_custkey"), col("c_nationkey").cast("long").as("nation"))
      .withColumn("salt", explode(sequence(lit(0L), lit(SaltBuckets - 1L))))
    fact.join(dim.hint("merge"),
        fact("user_id") === dim("c_custkey") && fact("salt") === dim("salt"))
      .groupBy("nation")
      .agg(count(lit(1)).as("n_events"),
        countDistinct("user_id").as("n_users"),
        sum("value_cents").as("sum_cents"))
      .orderBy("nation")
  }

  val joinSaltedSql: String =
    """SELECT CAST(c.c_nationkey AS BIGINT) AS nation,
      |       count(*) AS n_events,
      |       count(DISTINCT e.user_id) AS n_users,
      |       CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_cents
      |FROM events e JOIN customer c ON e.user_id = c.c_custkey
      |GROUP BY 1 ORDER BY 1""".stripMargin

  // ---- events_props_stats: JSON-path property aggregation -----------------

  /** Typed aggregation over a JSON property column: `props` is a free-form
    * JSON payload (the reference forwards such payloads opaquely; its
    * consumers chart them), and the `$.k` property is extracted with the
    * engine's native JSON path machinery — Spark's codegen'd
    * get_json_object against DuckDB's json_extract_string — NOT a regex,
    * so quoting/nesting/escape rules are the JSON standard's on both
    * sides. Missing/non-numeric properties fall out as NULLs and are
    * counted, not silently dropped. One narrow map-side-combined groupBy
    * on the 5-value type key; pure int64 aggregates. */
  def eventsPropsStats(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .select(col("event_type"),
        get_json_object(col("props"), "$.k").cast("long").as("k"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        sum(when(col("k").isNull, 1L).otherwise(0L)).as("n_missing"),
        sum("k").as("sum_k"), min("k").as("min_k"), max("k").as("max_k"))
      .orderBy("event_type")

  val eventsPropsStatsSql: String =
    """WITH e AS (
      |  SELECT event_type,
      |         CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
      |  FROM events)
      |SELECT event_type, count(*) AS n,
      |       CAST(sum(CASE WHEN k IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_missing,
      |       CAST(sum(k) AS BIGINT) AS sum_k, min(k) AS min_k, max(k) AS max_k
      |FROM e GROUP BY event_type ORDER BY event_type""".stripMargin

  // ---- events_funnel: strict ordered conversion funnel --------------------

  /** Strict ordered funnel view → click → purchase: a user converts at
    * step k only with an event of step k's type STRICTLY AFTER their
    * step-(k−1) conversion instant (first qualifying occurrence wins).
    * This is the sequential-pattern query every product-analytics engine
    * ships; the reference's consumers run it over the change-fed events
    * table.
    *
    * Shape: one per-user min per step. Each step is a map-side-combined
    * groupBy on user_id (million-scale key) joined co-partitioned on
    * user_id to the previous step's frame — three reuses of the SAME hash
    * partitioning, never a window over the raw stream, never a
    * collect_list of a user's full history (a hot user's event list is
    * unbounded; their MIN is 8 bytes). The per-step count frame is
    * |steps| = 3 rows, so the final lag/first_value window is bounded by
    * the funnel definition, not the data. Timestamps are integer µs —
    * exact on both engines; rates are floored e4 fixed-point. */
  val FunnelSteps: Seq[String] = Seq("view", "click", "purchase")

  /** Per-step conversion frames (user_id, t) — shared by the funnel count
    * report and the step-latency report so the strict-ordering rule
    * cannot diverge between them. */
  private def funnelStepFrames(spark: SparkSession, dir: String): Seq[DataFrame] = {
    val ev = Tables.events(spark, dir)
      .select(col("user_id"), col("event_type"), expr("ts div 1000").as("us"))
    // step 1: first 'view' per user; step k: first step-k event after t(k-1)
    FunnelSteps.tail.scanLeft(
      ev.where(col("event_type") === FunnelSteps.head)
        .groupBy("user_id").agg(min("us").as("t"))) { (prev, typ) =>
      ev.where(col("event_type") === typ)
        .join(prev.select(col("user_id"), col("t").as("t_prev")), "user_id")
        .where(col("us") > col("t_prev"))
        .groupBy("user_id").agg(min("us").as("t"))
    }
  }

  /** All three strict-ordered step frames as ONE memoized
    * (step, user_id, t) frame, a shared subtree: the step-k frame
    * embeds every frame below it, so events_funnel's counts union held
    * SIX step derivations (1+2+3) and funnel_latency's pair join four
    * more — each a filtered events aggregate chain. Build the chain once;
    * every consumer is a `step =` filter of this frame, so results are
    * unchanged by construction. Bounded by 3 × |users| rows. */
  private def funnelStepsFrame(spark: SparkSession, dir: String): DataFrame =
    Tables.memoPersist(spark,
        s"rel.funnelSteps:${FunnelSteps.mkString("-")}:$dir") {
      funnelStepFrames(spark, dir).zipWithIndex.map { case (f, i) =>
        f.select(lit(i + 1L).as("step"), col("user_id"), col("t"))
      }.reduce(_ unionByName _)
    }

  def eventsFunnel(spark: SparkSession, dir: String): DataFrame = {
    val sf = funnelStepsFrame(spark, dir)
    // per-step single-row aggregates (not a groupBy over the union): a
    // step with ZERO converting users must still emit its n_users = 0 row
    val counts = FunnelSteps.zipWithIndex.map { case (typ, i) =>
      sf.where(col("step") === (i + 1).toLong)
        .agg(count(lit(1)).as("n_users"))
        .select(lit(i + 1L).as("step"), lit(typ).as("step_name"),
          col("n_users"))
    }.reduce(_ unionByName _)
    // 3-row frame: the global window is bounded by |FunnelSteps|
    val byStep = Window.orderBy("step")
    counts
      .withColumn("n_prev", lag("n_users", 1).over(byStep))
      .withColumn("n_first", first("n_users").over(
        byStep.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("conv_prev_e4", when(coalesce(col("n_prev"), col("n_users")) === 0, 0L)
        .otherwise(expr(
          "CAST(floor(1.0e4 * n_users / coalesce(n_prev, n_users)) AS BIGINT)")))
      .withColumn("conv_first_e4", when(col("n_first") === 0, 0L)
        .otherwise(expr("CAST(floor(1.0e4 * n_users / n_first) AS BIGINT)")))
      .select("step", "step_name", "n_users", "conv_prev_e4", "conv_first_e4")
      .orderBy("step")
  }

  /** Shared oracle CTE chain for the funnel step frames s1/s2/s3 — ONE
    * definition of the strict-ordering rule for both funnel reports. */
  val FunnelStepsCte: String =
    """e AS (
      |  SELECT user_id, event_type, epoch_us(ts) AS us FROM events),
      |s1 AS (
      |  SELECT user_id, min(us) AS t FROM e
      |  WHERE event_type = 'view' GROUP BY user_id),
      |s2 AS (
      |  SELECT e.user_id, min(us) AS t FROM e
      |  JOIN s1 USING (user_id)
      |  WHERE event_type = 'click' AND us > s1.t GROUP BY e.user_id),
      |s3 AS (
      |  SELECT e.user_id, min(us) AS t FROM e
      |  JOIN s2 USING (user_id)
      |  WHERE event_type = 'purchase' AND us > s2.t GROUP BY e.user_id)""".stripMargin

  val eventsFunnelSql: String =
    s"""WITH $FunnelStepsCte,
      |c AS (
      |  SELECT CAST(1 AS BIGINT) AS step, 'view' AS step_name,
      |         count(*) AS n_users FROM s1
      |  UNION ALL
      |  SELECT 2, 'click', count(*) FROM s2
      |  UNION ALL
      |  SELECT 3, 'purchase', count(*) FROM s3),
      |w AS (
      |  SELECT step, step_name, CAST(n_users AS BIGINT) AS n_users,
      |         lag(n_users, 1) OVER (ORDER BY step) AS n_prev,
      |         first_value(n_users) OVER (ORDER BY step
      |           ROWS UNBOUNDED PRECEDING) AS n_first
      |  FROM c)
      |SELECT step, step_name, n_users,
      |       CASE WHEN coalesce(n_prev, n_users) = 0 THEN 0
      |            ELSE CAST(floor(1.0e4 * n_users / coalesce(n_prev, n_users)) AS BIGINT)
      |       END AS conv_prev_e4,
      |       CASE WHEN n_first = 0 THEN 0
      |            ELSE CAST(floor(1.0e4 * n_users / n_first) AS BIGINT)
      |       END AS conv_first_e4
      |FROM w ORDER BY step""".stripMargin

  // ---- funnel_latency: time-between-steps report --------------------------

  /** How long converting users take between funnel steps: per adjacent
    * step pair, the count and the min / max / floored-mean microsecond
    * delay — the "where does the funnel stall" companion to the count
    * report. Reuses the SAME step frames (and oracle CTEs) as
    * events_funnel, so the strict-ordering rule is defined once. Each
    * delay is one integer subtraction on a co-partitioned user_id join;
    * the mean is an integer division of exact sums — no window, no
    * per-user history, nothing non-portable. */
  def funnelLatency(spark: SparkSession, dir: String): DataFrame = {
    val sf = funnelStepsFrame(spark, dir)
    val pairs = FunnelSteps.sliding(2).toSeq.zipWithIndex.map {
      case (Seq(na, nb), i) =>
        sf.where(col("step") === (i + 2).toLong)
          .join(sf.where(col("step") === (i + 1).toLong)
            .select(col("user_id"), col("t").as("t_prev")), "user_id")
          .select(lit(s"${na}_to_$nb").as("step_pair"),
            (col("t") - col("t_prev")).as("d"))
    }
    pairs.reduce(_ unionByName _)
      .groupBy("step_pair")
      .agg(count(lit(1)).as("n_users"),
        min("d").as("min_us"), max("d").as("max_us"), sum("d").as("sum_d"))
      .withColumn("avg_us", expr("sum_d div n_users"))
      .select("step_pair", "n_users", "min_us", "max_us", "avg_us")
      .orderBy("step_pair")
  }

  val funnelLatencySql: String =
    s"""WITH $FunnelStepsCte,
       |d AS (
       |  SELECT 'view_to_click' AS step_pair, s2.t - s1.t AS d
       |  FROM s2 JOIN s1 USING (user_id)
       |  UNION ALL
       |  SELECT 'click_to_purchase', s3.t - s2.t
       |  FROM s3 JOIN s2 USING (user_id))
       |SELECT step_pair, count(*) AS n_users,
       |       min(d) AS min_us, max(d) AS max_us,
       |       CAST(sum(d) AS BIGINT) // count(*) AS avg_us
       |FROM d GROUP BY step_pair ORDER BY step_pair""".stripMargin

  // ---- user_spend_decile: distributed decile assignment -------------------

  /** Exact spend deciles over all purchasing users: rank by (spend desc,
    * user_id) and cut into tenths — the segmentation every LTV/cohort
    * report starts from. The SEMANTICS are one global row_number (the
    * oracle's form); the PLAN is the distributed [[Tables.globalRank]],
    * and the decile is pure integer arithmetic on (rank, N) — no
    * single-partition sort at any width. */
  def userSpendDecile(spark: SparkSession, dir: String): DataFrame = {
    val spend = Tables.events(spark, dir)
      .where(col("event_type") === "purchase")
      .groupBy("user_id")
      .agg(sum(cents(col("value"))).as("spend_cents"))
    Tables.globalRank(spend, Nil, col("spend_cents").desc, col("user_id"))
      .withColumn("decile", expr("(rnk - 1) * 10 div n_total + 1"))
      .select("user_id", "spend_cents", "rnk", "decile")
      .orderBy("rnk")
  }

  val userSpendDecileSql: String =
    """WITH s AS (
      |  SELECT user_id,
      |         CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS spend_cents
      |  FROM events WHERE event_type = 'purchase' GROUP BY user_id),
      |r AS (
      |  SELECT user_id, spend_cents,
      |         CAST(row_number() OVER (ORDER BY spend_cents DESC, user_id) AS BIGINT) AS rnk,
      |         CAST(count(*) OVER () AS BIGINT) AS n_total
      |  FROM s)
      |SELECT user_id, spend_cents, rnk,
      |       (rnk - 1) * 10 // n_total + 1 AS decile
      |FROM r ORDER BY rnk""".stripMargin

  // ---- events_dow_hour: weekly seasonality profile ------------------------

  /** Day-of-week × hour activity profile with per-cell purchase rate —
    * the weekly seasonality fingerprint behind capacity planning and
    * anomaly baselines. Calendar math is PURE epoch-second integer
    * arithmetic (dow 0 = Monday via (days+3) mod 7, hour = in-day
    * seconds div 3600) because the engines' calendar functions disagree
    * on week numbering (Spark dayofweek is Sunday=1, DuckDB dayofweek
    * Sunday=0) while epoch arithmetic cannot.
    *
    * Scale shape: scan-side integer derivation + one map-side-combined
    * groupBy on a ≤168-key composite — nothing at fact scale survives
    * the shuffle. */
  def eventsDowHour(spark: SparkSession, dir: String): DataFrame =
    // ts is int64 NANOSECONDS on the Spark side (the Tables.events
    // normalized contract) while DuckDB sees a TIMESTAMP —
    // floor-to-seconds on both sides lands on the identical integer
    // FLOOR-division formulation throughout (pmod is nonnegative, and
    // (x − pmod(x, n)) div n is exact floor-div): Spark's `div`/`%`
    // truncate toward zero, so a pre-1970 (negative) nanosecond
    // timestamp would land one second off the oracle's floor(epoch(ts))
    // and produce a negative dow/hour — the fixture data is positive,
    // but the portability contract must not depend on that
    Tables.events(spark, dir)
      .withColumn("es", expr("(ts - pmod(ts, 1000000000)) div 1000000000"))
      .withColumn("dow", expr("pmod((es - pmod(es, 86400)) div 86400 + 3, 7)"))
      .withColumn("hour", expr("pmod(es, 86400) div 3600"))
      .groupBy("dow", "hour")
      .agg(count(lit(1)).as("n_events"),
        sum((col("event_type") === "purchase").cast("long")).as("n_purchases"))
      .withColumn("purchase_rate_e4", expr("(10000 * n_purchases) div n_events"))
      .orderBy("dow", "hour")

  val eventsDowHourSql: String =
    """WITH e AS (
      |  SELECT CAST(floor(epoch(ts)) AS BIGINT) AS es, event_type FROM events),
      |d AS (
      |  SELECT (((es - ((es % 86400 + 86400) % 86400)) // 86400 + 3) % 7 + 7) % 7 AS dow,
      |         ((es % 86400 + 86400) % 86400) // 3600 AS hour,
      |         CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS is_p
      |  FROM e)
      |SELECT dow, hour, CAST(count(*) AS BIGINT) AS n_events,
      |       CAST(sum(is_p) AS BIGINT) AS n_purchases,
      |       (10000 * CAST(sum(is_p) AS BIGINT)) // count(*) AS purchase_rate_e4
      |FROM d GROUP BY dow, hour ORDER BY dow, hour""".stripMargin

  // ---- user_activity_gini: behavioral diversity histogram -----------------

  /** Behavioral diversity per user — Gini impurity over each user's
    * event-type distribution (the source_lang_gini chain at user
    * granularity), bucketed into 1e5-tick bands and histogrammed: the
    * bot/monoculture detector (a user who only ever fires one event
    * type sits in bucket 0; organic users spread high). Per-user n² and
    * Σn_t² stay in int64 (event counts per user ≪ 2^31); the Gini goes
    * through the shared floor-over-double chain.
    *
    * Scale shape: two map-side-combined groupBys — (user, type) then
    * user — and a ≤11-key histogram rollup; the heaviest shuffle is the
    * (user, type) composite key. */
  def userActivityGini(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy("user_id", "event_type").agg(count(lit(1)).as("n"))
      .groupBy("user_id")
      .agg(sum("n").as("n_events"), sum(col("n") * col("n")).as("s2"))
      .withColumn("gini_e6", expr(
        """CAST(floor(1.0e6 * (CAST(n_events AS DOUBLE) * n_events - CAST(s2 AS DOUBLE))
          | / (CAST(n_events AS DOUBLE) * n_events)) AS BIGINT)""".stripMargin))
      .withColumn("bucket", expr("gini_e6 div 100000"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_users"), min("user_id").as("min_user"),
        min("gini_e6").as("min_gini_e6"), max("gini_e6").as("max_gini_e6"))
      .orderBy("bucket")

  val userActivityGiniSql: String =
    """WITH g AS (
      |  SELECT user_id, event_type, count(*) AS n FROM events
      |  GROUP BY user_id, event_type),
      |u AS (
      |  SELECT user_id, CAST(sum(n) AS BIGINT) AS n_events,
      |         CAST(sum(n * n) AS BIGINT) AS s2
      |  FROM g GROUP BY user_id),
      |b AS (
      |  SELECT user_id,
      |         CAST(floor(1.0e6 * (CAST(n_events AS DOUBLE) * n_events - CAST(s2 AS DOUBLE))
      |          / (CAST(n_events AS DOUBLE) * n_events)) AS BIGINT) AS gini_e6
      |  FROM u)
      |SELECT gini_e6 // 100000 AS bucket, CAST(count(*) AS BIGINT) AS n_users,
      |       min(user_id) AS min_user,
      |       min(gini_e6) AS min_gini_e6, max(gini_e6) AS max_gini_e6
      |FROM b GROUP BY 1 ORDER BY bucket""".stripMargin

  // ---- funnel_latency_hist: conversion-delay distribution -----------------

  /** Signup → first-purchase delay distribution: per converting user,
    * the delay from first signup to the first purchase AFTER it, in
    * power-of-two second buckets — the distributional complement to
    * funnel_latency's min/mean/max (a bimodal delay curve changes the
    * retention play; a mean cannot show it). Same epoch-nanosecond
    * integer arithmetic as events_dow_hour; the bucket CASE is one
    * generated string shared by both engines.
    *
    * Scale shape: two map-side-combined per-user mins over the
    * type-filtered scan, a user-keyed join, then a ≤41-key histogram —
    * the fact table crosses one shuffle keyed by user. */
  def funnelLatencyHist(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val su = ev.where(col("event_type") === "signup")
      .groupBy("user_id").agg(min("ts").as("signup_ns"))
    val pu = ev.where(col("event_type") === "purchase")
      .select(col("user_id").as("pu_user"), col("ts").as("p_ns"))
    su.join(pu, col("user_id") === col("pu_user") && col("p_ns") >= col("signup_ns"))
      .groupBy("user_id").agg(min("signup_ns").as("s_ns"), min("p_ns").as("first_p_ns"))
      // floor EACH timestamp to seconds, then subtract (the oracle's
      // epoch() shape) — floor of the difference would disagree by one
      // whenever the sub-second parts straddle a boundary; floor-div
      // via pmod, not `div`, so pre-1970 timestamps agree too (see
      // events_dow_hour)
      .withColumn("delay_s",
        expr("""((first_p_ns - pmod(first_p_ns, 1000000000)) div 1000000000)
               | - ((s_ns - pmod(s_ns, 1000000000)) div 1000000000)""".stripMargin))
      .withColumn("bucket", expr(freqBucketCase("delay_s")).cast("long"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_users"),
        min("delay_s").as("min_delay_s"), max("delay_s").as("max_delay_s"))
      .orderBy("bucket")
  }

  def funnelLatencyHistSql: String =
    s"""WITH fs AS (
       |  SELECT user_id, min(ts) AS signup_ts FROM events
       |  WHERE event_type = 'signup' GROUP BY user_id),
       |fp2 AS (
       |  SELECT s.user_id, min(s.signup_ts) AS s_ts, min(p.ts) AS first_p_ts
       |  FROM fs s JOIN events p
       |    ON p.user_id = s.user_id AND p.event_type = 'purchase'
       |   AND p.ts >= s.signup_ts
       |  GROUP BY s.user_id),
       |fd AS (
       |  SELECT user_id,
       |         CAST(floor(epoch(first_p_ts)) AS BIGINT)
       |           - CAST(floor(epoch(s_ts)) AS BIGINT) AS delay_s0
       |  FROM fp2),
       |fdd AS (
       |  SELECT user_id, delay_s0 AS delay_s,
       |         CAST(${freqBucketCase("delay_s0")} AS BIGINT) AS bucket
       |  FROM fd)
       |SELECT bucket, CAST(count(*) AS BIGINT) AS n_users,
       |       min(delay_s) AS min_delay_s, max(delay_s) AS max_delay_s
       |FROM fdd GROUP BY bucket ORDER BY bucket""".stripMargin

  // ---- join_skew_audit: pre-join key-frequency diagnosis ------------------

  /** Join-key skew diagnosis for the events fact table's user_id — the
    * report read BEFORE choosing between a plain shuffle join, a salted
    * join (join_salted), or an AQE skew split: per power-of-two
    * frequency bucket, how many keys land there and what fraction of
    * the fact rows they carry (a heavy top bucket = few keys carrying
    * most rows = the skew that makes one reducer the straggler). The
    * bucket CASE is one generated string shared by both engines.
    *
    * Scale shape: one map-side-combined count per key, then a ≤41-key
    * histogram — the diagnosis costs one aggregation over the join key,
    * strictly cheaper than the join it de-risks. */
  private def freqBucketCase(c: String): String =
    (0 until 40).map(b => s"WHEN $c < ${1L << (b + 1)} THEN $b")
      .mkString("CASE ", " ", " ELSE 40 END")

  def joinSkewAudit(spark: SparkSession, dir: String): DataFrame = {
    val freq = Tables.events(spark, dir)
      .groupBy("user_id").agg(count(lit(1)).as("freq"))
    freq
      .withColumn("bucket", expr(freqBucketCase("freq")).cast("long"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_keys"), sum("freq").as("sum_rows"))
      .withColumn("total_rows", sum("sum_rows").over(
        Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
      .withColumn("rows_share_e4", expr("(10000 * sum_rows) div total_rows"))
      .select("bucket", "n_keys", "sum_rows", "rows_share_e4")
      .orderBy("bucket")
  }

  def joinSkewAuditSql: String =
    s"""WITH f AS (
       |  SELECT user_id, CAST(count(*) AS BIGINT) AS freq FROM events
       |  GROUP BY user_id),
       |jb AS (
       |  SELECT CAST(${freqBucketCase("freq")} AS BIGINT) AS bucket, freq FROM f),
       |jg AS (
       |  SELECT bucket, CAST(count(*) AS BIGINT) AS n_keys,
       |         CAST(sum(freq) AS BIGINT) AS sum_rows
       |  FROM jb GROUP BY bucket),
       |jt AS (SELECT CAST(sum(sum_rows) AS BIGINT) AS total_rows FROM jg)
       |SELECT bucket, n_keys, sum_rows,
       |       (10000 * sum_rows) // total_rows AS rows_share_e4
       |FROM jg CROSS JOIN jt ORDER BY bucket""".stripMargin

  // ---- event_transitions: within-session Markov transition matrix ---------

  /** First-order event-type transition counts WITHIN the 30-minute-gap
    * sessions (the path-analysis primitive behind "what do users do
    * next"): consecutive same-session event pairs (lead over the session
    * order), counted per (from_type, to_type) with distinct users and the
    * e4 share of all transitions leaving from_type.
    *
    * Scale: the session window and the lead window share ONE partitioning
    * (user_id) — a single shuffle produces both; the transition groupBy
    * is map-side combined onto at most |types|² keys, and the from-type
    * total is a broadcast-sized window over those keys. */
  def eventTransitions(spark: SparkSession, dir: String): DataFrame = {
    val sessioned = sessionedFrame(spark, dir)
    val bySession = Window.partitionBy("user_id", "session_id")
      .orderBy("ts", "event_id")
    val trans = sessioned
      .withColumn("to_type", lead("event_type", 1).over(bySession))
      .where(col("to_type").isNotNull)
      .groupBy(col("event_type").as("from_type"), col("to_type"))
      .agg(count(lit(1)).as("n_trans"),
        countDistinct("user_id").as("n_users"))
    trans
      .withColumn("from_total", sum("n_trans").over(
        Window.partitionBy("from_type")
          .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
      .withColumn("share_e4", expr("(10000 * n_trans) div from_total"))
      .select("from_type", "to_type", "n_trans", "n_users", "share_e4")
      .orderBy("from_type", "to_type")
  }

  /** Session CTE carrying event_type (SessionsCte drops it), shared by
    * the transition and path oracles so the gap constant cannot drift. */
  private val TypedSessionsCte: String =
    """e AS (
      |  SELECT user_id, epoch_us(ts) AS ts, event_id, event_type FROM events),
      |marked AS (
      |  SELECT user_id, ts, event_id, event_type,
      |         CASE WHEN lag(ts) OVER w IS NULL
      |                OR ts - lag(ts) OVER w > 1800000000 THEN 1 ELSE 0 END AS is_new
      |  FROM e
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      |sessions AS (
      |  SELECT user_id, ts, event_id, event_type,
      |         CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |           ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
      |  FROM marked)""".stripMargin

  val eventTransitionsSql: String =
    s"""WITH $TypedSessionsCte,
       |t AS (
       |  SELECT user_id, event_type AS from_type,
       |         lead(event_type) OVER (PARTITION BY user_id, session_id
       |           ORDER BY ts, event_id) AS to_type
       |  FROM sessions),
       |g AS (
       |  SELECT from_type, to_type, CAST(count(*) AS BIGINT) AS n_trans,
       |         CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
       |  FROM t WHERE to_type IS NOT NULL GROUP BY from_type, to_type)
       |SELECT from_type, to_type, n_trans, n_users,
       |       (10000 * n_trans) // CAST(sum(n_trans) OVER
       |         (PARTITION BY from_type) AS BIGINT) AS share_e4
       |FROM g ORDER BY from_type, to_type""".stripMargin

  // ---- session_paths: top ordered session-prefix paths ---------------------

  /** Top-20 session paths: the ordered first-5 event types of each
    * 30-minute-gap session joined with '>', counted per distinct path
    * (sessions + distinct users), ranked by frequency with the path
    * string as the tiebreak. The prefix pivot is 5 deterministic
    * max(CASE rn=i) aggregates — never an order-dependent collect_list —
    * so the path string is identical on both engines by construction.
    *
    * Scale: one shuffle on user_id for the session/rank windows, one
    * map-side-combined groupBy on (user, session), one on the path
    * strings (cardinality ≤ |types|⁵), then a top-20 TakeOrdered —
    * no global sort materializes. */
  def sessionPaths(spark: SparkSession, dir: String): DataFrame = {
    val sessioned = sessionedFrame(spark, dir)
      .withColumn("rn", row_number().over(
        Window.partitionBy("user_id", "session_id").orderBy("ts", "event_id")))
      .where(col("rn") <= 5)
    val steps = (1 to 5).map(i =>
      max(when(col("rn") === i, col("event_type"))).as(s"s$i"))
    sessioned
      .groupBy("user_id", "session_id")
      .agg(steps.head, steps.tail: _*)
      .withColumn("path", concat_ws(">",
        col("s1"), col("s2"), col("s3"), col("s4"), col("s5")))
      .groupBy("path")
      .agg(count(lit(1)).as("n_sessions"),
        countDistinct("user_id").as("n_users"))
      .orderBy(col("n_sessions").desc, col("path"))
      .limit(20)
  }

  val sessionPathsSql: String =
    s"""WITH $TypedSessionsCte,
       |r AS (
       |  SELECT user_id, session_id, event_type,
       |         row_number() OVER (PARTITION BY user_id, session_id
       |           ORDER BY ts, event_id) AS rn
       |  FROM sessions),
       |p AS (
       |  SELECT user_id, session_id,
       |         concat_ws('>',
       |           max(CASE WHEN rn = 1 THEN event_type END),
       |           max(CASE WHEN rn = 2 THEN event_type END),
       |           max(CASE WHEN rn = 3 THEN event_type END),
       |           max(CASE WHEN rn = 4 THEN event_type END),
       |           max(CASE WHEN rn = 5 THEN event_type END)) AS path
       |  FROM r WHERE rn <= 5 GROUP BY user_id, session_id)
       |SELECT path, CAST(count(*) AS BIGINT) AS n_sessions,
       |       CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
       |FROM p GROUP BY path
       |ORDER BY n_sessions DESC, path LIMIT 20""".stripMargin

  // ---- k_anonymity: re-identification risk audit ----------------------------

  /** k-anonymity (Sweeney 2002) over behavioral quasi-identifiers: each
    * user is reduced to the profile (most-active day-of-week, dominant
    * event type, log2 activity band) an adversary could reconstruct from
    * side channels; users sharing a profile form an equivalence class of
    * size k, and small-k classes are the re-identification risk the
    * release audit must count BEFORE the events table ships anywhere —
    * the structural complement of the pattern-based pii_scrub.
    *
    * Argmaxes are deterministic (count desc, then the attribute value) —
    * a window rank, never an order-dependent first(). Output: k-band
    * (1 / 2-4 / 5-9 / 10+) → class and user counts; each risky band
    * (k < 5) reports its OWN e4 user share — per-band, not the
    * combined k<5 share (sum the two bands for the overall risk).
    *
    * Scale: one shuffle keyed by user (both argmax windows and the band
    * aggregate ride the same clustering), one map-side-combined class
    * aggregate on ≤ 7·|types|·bands keys, a ≤ 4-row banding. */
  def kAnonymity(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .withColumn("es", expr("(ts - pmod(ts, 1000000000)) div 1000000000"))
      .withColumn("dow", expr("pmod((es - pmod(es, 86400)) div 86400 + 3, 7)"))
      .select("user_id", "dow", "event_type")
    def dominant(attr: String): DataFrame =
      ev.groupBy("user_id", attr).agg(count(lit(1)).as("cnt"))
        .withColumn("rn", row_number().over(
          Window.partitionBy("user_id").orderBy(col("cnt").desc, col(attr))))
        .where(col("rn") === 1)
        .select(col("user_id"), col(attr).as(s"top_$attr"))
    val profile = dominant("dow")
      .join(dominant("event_type"), "user_id")
      .join(ev.groupBy("user_id").agg(count(lit(1)).as("n_events")), "user_id")
      // floor(log2(n)) as length(bin(n))−1: EXACT integer log2 on both
      // engines — a floating ln(x)/ln(2) rounds below the true value at
      // exact powers of two (ln(8)/ln(2) = 2.999…96 → floor 2, not 3)
      .withColumn("band", (length(bin(col("n_events"))) - 1).cast("long"))
    val classes = profile.groupBy("top_dow", "top_event_type", "band")
      .agg(count(lit(1)).as("k"))
    classes
      .withColumn("k_band",
        when(col("k") === 1, "1_unique")
          .when(col("k") <= 4, "2_k2_4")
          .when(col("k") <= 9, "3_k5_9")
          .otherwise("4_k10_plus"))
      .groupBy("k_band")
      .agg(count(lit(1)).as("n_classes"), sum("k").as("n_users"))
      .withColumn("total_users", sum("n_users").over(
        Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
      .withColumn("at_risk_e4", expr(
        "CASE WHEN k_band IN ('1_unique', '2_k2_4') " +
          "THEN (10000 * n_users) div total_users ELSE 0 END"))
      .select("k_band", "n_classes", "n_users", "at_risk_e4")
      .orderBy("k_band")
  }

  val kAnonymitySql: String =
    """WITH e AS (
      |  SELECT user_id, event_type,
      |         (((CAST(floor(epoch(ts)) AS BIGINT)
      |            - ((CAST(floor(epoch(ts)) AS BIGINT) % 86400 + 86400) % 86400))
      |           // 86400 + 3) % 7 + 7) % 7 AS dow
      |  FROM events),
      |dd AS (
      |  SELECT user_id, dow AS top_dow FROM (
      |    SELECT user_id, dow,
      |           row_number() OVER (PARTITION BY user_id
      |             ORDER BY count(*) DESC, dow) AS rn
      |    FROM e GROUP BY user_id, dow) WHERE rn = 1),
      |dt AS (
      |  SELECT user_id, event_type AS top_event_type FROM (
      |    SELECT user_id, event_type,
      |           row_number() OVER (PARTITION BY user_id
      |             ORDER BY count(*) DESC, event_type) AS rn
      |    FROM e GROUP BY user_id, event_type) WHERE rn = 1),
      |nu AS (
      |  SELECT user_id, CAST(count(*) AS BIGINT) AS n_events
      |  FROM e GROUP BY user_id),
      |prof AS (
      |  SELECT dd.user_id, dd.top_dow, dt.top_event_type,
      |         CAST(length(bin(nu.n_events)) - 1 AS BIGINT) AS band
      |  FROM dd JOIN dt ON dd.user_id = dt.user_id
      |  JOIN nu ON dd.user_id = nu.user_id),
      |cls AS (
      |  SELECT top_dow, top_event_type, band, CAST(count(*) AS BIGINT) AS k
      |  FROM prof GROUP BY top_dow, top_event_type, band),
      |bnd AS (
      |  SELECT CASE WHEN k = 1 THEN '1_unique'
      |              WHEN k <= 4 THEN '2_k2_4'
      |              WHEN k <= 9 THEN '3_k5_9'
      |              ELSE '4_k10_plus' END AS k_band, k
      |  FROM cls),
      |g AS (
      |  SELECT k_band, CAST(count(*) AS BIGINT) AS n_classes,
      |         CAST(sum(k) AS BIGINT) AS n_users
      |  FROM bnd GROUP BY k_band)
      |SELECT k_band, n_classes, n_users,
      |       CASE WHEN k_band IN ('1_unique', '2_k2_4')
      |            THEN (10000 * n_users) // CAST(sum(n_users) OVER () AS BIGINT)
      |            ELSE 0 END AS at_risk_e4
      |FROM g ORDER BY k_band""".stripMargin

  // ---- user_ltv: cohort cumulative-value curve -----------------------------

  /** Cohort LTV curve: users cohorted by their first active week; for
    * each (cohort_week, weeks-since-cohort offset) the cohort's
    * CUMULATIVE cents and the integer per-user cumulative value. The
    * retention row counts who comes back; this prices what the cohort is
    * worth as it ages — the other half of cohort analysis.
    *
    * Scale: cohort assignment is one groupBy(user) min-week, re-joined on
    * user_id (AQE-planned, both sides hash on the same key); everything
    * after lives on ≤ weeks² cells, with the running sum windowed over
    * the tiny (cohort, offset) grid. */
  def userLtv(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(col("user_id"), expr(s"ts div 1000 div $WeekUs").as("week"),
        cents(col("value")).as("cents"))
    val cohorts = ev.groupBy("user_id").agg(min("week").as("cohort_week"))
    val sizes = cohorts.groupBy("cohort_week")
      .agg(countDistinct("user_id").as("n_cohort_users"))
    val cells = ev.join(cohorts, "user_id")
      .groupBy(col("cohort_week"), (col("week") - col("cohort_week")).as("week_offset"))
      .agg(sum("cents").as("cents"))
    cells.join(broadcast(sizes), "cohort_week")
      .withColumn("cum_cents", sum("cents").over(
        Window.partitionBy("cohort_week").orderBy("week_offset")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      // explicit double-floor, NOT integer div: Spark `div` truncates
      // toward zero while DuckDB `//` floors, so a negative cumulative
      // (possible in principle — amounts are not sign-constrained) would
      // diverge by 1; the readability/user_burstiness convention applies
      .withColumn("cum_per_user", expr(
        "CAST(floor(CAST(cum_cents AS DOUBLE) / n_cohort_users) AS LONG)"))
      .select("cohort_week", "week_offset", "n_cohort_users",
        "cum_cents", "cum_per_user")
      .orderBy("cohort_week", "week_offset")
  }

  // ---- benford_audit: leading-digit fraud/quality check ---------------------

  /** First-digit distribution of positive event amounts vs Benford's law
    * (the classic synthetic-data / fraud smell test): per (event_type,
    * digit) the observed e6 share against the expected floor(1e6·log10
    * (1+1/d)) — the nine expected shares are PRECOMPUTED integer
    * literals baked identically into both engines, so no cross-engine
    * log10 ever runs. Output includes the absolute deviation; a
    * synthetic uniform generator shows up as ~|111111 − benford|
    * immediately.
    *
    * Scale: one scan, leading digit from the decimal rendering of exact
    * cents in codegen, one map-side-combined groupBy on ≤ |types|×9
    * keys, per-type totals from a tiny window. */
  def benfordAudit(spark: SparkSession, dir: String): DataFrame = {
    val expected = BenfordE6.map { case (d, e) => s"WHEN digit = $d THEN ${e}L" }
      .mkString("CASE ", " ", " END")
    Tables.events(spark, dir)
      .select(col("event_type"), cents(col("value")).as("cents"))
      .where(col("cents") > 0)
      .withColumn("digit", substring(col("cents").cast("string"), 1, 1).cast("long"))
      .groupBy("event_type", "digit")
      .agg(count(lit(1)).as("n"))
      .withColumn("type_total", sum("n").over(
        Window.partitionBy("event_type")
          .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
      .withColumn("share_e6", expr("(1000000 * n) div type_total"))
      .withColumn("benford_e6", expr(expected))
      .select(col("event_type"), col("digit"), col("n"), col("share_e6"),
        col("benford_e6"),
        abs(col("share_e6") - col("benford_e6")).as("dev_e6"))
      .orderBy("event_type", "digit")
  }

  /** floor(1e6·log10(1+1/d)) for d = 1..9, precomputed once — shared
    * verbatim by the Spark expression and the oracle SQL. */
  val BenfordE6: Seq[(Int, Long)] = Seq(
    1 -> 301029L, 2 -> 176091L, 3 -> 124938L, 4 -> 96910L, 5 -> 79181L,
    6 -> 66946L, 7 -> 57991L, 8 -> 51152L, 9 -> 45757L)

  val benfordAuditSql: String = {
    val expected = BenfordE6.map { case (d, e) => s"WHEN digit = $d THEN $e" }
      .mkString("CASE ", " ", " END")
    s"""WITH c AS (
       |  SELECT event_type, CAST(round(value * 100) AS BIGINT) AS cents
       |  FROM events),
       |d AS (
       |  SELECT event_type,
       |         CAST(substring(CAST(cents AS VARCHAR), 1, 1) AS BIGINT) AS digit
       |  FROM c WHERE cents > 0),
       |g AS (
       |  SELECT event_type, digit, CAST(count(*) AS BIGINT) AS n
       |  FROM d GROUP BY event_type, digit),
       |t AS (
       |  SELECT event_type, digit, n,
       |         (1000000 * n) // CAST(sum(n) OVER (PARTITION BY event_type) AS BIGINT)
       |           AS share_e6
       |  FROM g)
       |SELECT event_type, digit, n, share_e6,
       |       CAST($expected AS BIGINT) AS benford_e6,
       |       abs(share_e6 - CAST($expected AS BIGINT)) AS dev_e6
       |FROM t ORDER BY event_type, digit""".stripMargin
  }

  // ---- user_burstiness: inter-event-gap dispersion histogram ----------------

  /** Goh-Barabási burstiness B = (σ−μ)/(σ+μ) over each user's
    * inter-event gaps (µs): −1e6 = metronome, 0 = Poisson, → +1e6 =
    * bursty. Gap moments are EXACT integers (sum, decimal(38) squared
    * sum — a long squared-sum wraps once gaps exceed ~3e9 µs); μ/σ are
    * derived with one textually identical IEEE double sequence on both
    * engines (the event_anomalies precedent), and the histogram bucket
    * is an explicit double-floor because B goes negative where Spark's
    * `div` truncates toward zero and DuckDB's `//` floors.
    *
    * Scale: one user_id window shuffle for the gaps (shared shape with
    * the session family), one map-side per-user aggregate, one ≤ 9-row
    * histogram. */
  def userBurstiness(spark: SparkSession, dir: String): DataFrame = {
    val byTime = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val gaps = Tables.events(spark, dir)
      .select(col("user_id"), expr("ts div 1000").as("ts"), col("event_id"))
      .withColumn("prev_ts", lag("ts", 1).over(byTime))
      .where(col("prev_ts").isNotNull)
      .select(col("user_id"), (col("ts") - col("prev_ts")).as("dt"))
    gaps.groupBy("user_id")
      .agg(count(lit(1)).as("n"), sum("dt").as("s1"),
        sum(col("dt").cast("decimal(38,0)") * col("dt")).as("s2"))
      .withColumn("mean", expr("CAST(s1 AS DOUBLE) / n"))
      .withColumn("varr", expr(
        """CAST(s2 AS DOUBLE) / n
          | - (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n)""".stripMargin))
      .withColumn("std", expr("CASE WHEN varr > 0 THEN sqrt(varr) ELSE 0.0e0 END"))
      .withColumn("b_e6", expr(
        """CASE WHEN std + mean > 0
          |     THEN CAST(floor(1.0e6 * (std - mean) / (std + mean)) AS BIGINT)
          |     ELSE 0 END""".stripMargin))
      .withColumn("bucket",
        expr("CAST(floor(CAST(b_e6 AS DOUBLE) / 250000) AS BIGINT)"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_users"),
        min("b_e6").as("min_b_e6"), max("b_e6").as("max_b_e6"))
      .orderBy("bucket")
  }

  val userBurstinessSql: String =
    """WITH e AS (
      |  SELECT user_id, epoch_us(ts) AS ts, event_id FROM events),
      |gaps AS (
      |  SELECT user_id,
      |         ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS dt
      |  FROM e),
      |m AS (
      |  SELECT user_id, CAST(count(*) AS BIGINT) AS n,
      |         CAST(sum(dt) AS BIGINT) AS s1,
      |         sum(CAST(dt AS HUGEINT) * dt) AS s2
      |  FROM gaps WHERE dt IS NOT NULL GROUP BY user_id),
      |b AS (
      |  SELECT user_id,
      |         CASE WHEN (CASE WHEN CAST(s2 AS DOUBLE) / n
      |                            - (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n) > 0
      |                    THEN sqrt(CAST(s2 AS DOUBLE) / n
      |                            - (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n))
      |                    ELSE 0 END) + CAST(s1 AS DOUBLE) / n > 0
      |              THEN CAST(floor(1.0e6 *
      |                ((CASE WHEN CAST(s2 AS DOUBLE) / n
      |                          - (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n) > 0
      |                  THEN sqrt(CAST(s2 AS DOUBLE) / n
      |                          - (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n))
      |                  ELSE 0 END) - CAST(s1 AS DOUBLE) / n)
      |                / ((CASE WHEN CAST(s2 AS DOUBLE) / n
      |                            - (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n) > 0
      |                    THEN sqrt(CAST(s2 AS DOUBLE) / n
      |                            - (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n))
      |                    ELSE 0 END) + CAST(s1 AS DOUBLE) / n)) AS BIGINT)
      |              ELSE 0 END AS b_e6
      |  FROM m)
      |SELECT CAST(floor(CAST(b_e6 AS DOUBLE) / 250000) AS BIGINT) AS bucket,
      |       count(*) AS n_users,
      |       CAST(min(b_e6) AS BIGINT) AS min_b_e6,
      |       CAST(max(b_e6) AS BIGINT) AS max_b_e6
      |FROM b GROUP BY 1 ORDER BY bucket""".stripMargin

  val userLtvSql: String =
    s"""WITH ev AS (
       |  SELECT user_id, epoch_us(ts) // $WeekUs AS week,
       |         CAST(round(value * 100) AS BIGINT) AS cents
       |  FROM events),
       |co AS (
       |  SELECT user_id, min(week) AS cohort_week FROM ev GROUP BY user_id),
       |sz AS (
       |  SELECT cohort_week, CAST(count(DISTINCT user_id) AS BIGINT)
       |           AS n_cohort_users
       |  FROM co GROUP BY cohort_week),
       |cells AS (
       |  SELECT co.cohort_week, ev.week - co.cohort_week AS week_offset,
       |         CAST(sum(ev.cents) AS BIGINT) AS cents
       |  FROM ev JOIN co ON ev.user_id = co.user_id
       |  GROUP BY co.cohort_week, ev.week - co.cohort_week),
       |cum AS (
       |  SELECT cohort_week, week_offset,
       |         CAST(sum(cents) OVER (PARTITION BY cohort_week
       |           ORDER BY week_offset ROWS UNBOUNDED PRECEDING) AS BIGINT)
       |           AS cum_cents
       |  FROM cells)
       |SELECT c.cohort_week, c.week_offset, s.n_cohort_users, c.cum_cents,
       |       CAST(floor(CAST(c.cum_cents AS DOUBLE) / s.n_cohort_users)
       |         AS BIGINT) AS cum_per_user
       |FROM cum c JOIN sz s ON c.cohort_week = s.cohort_week
       |ORDER BY c.cohort_week, c.week_offset""".stripMargin

  // ---- user_rfm: recency/frequency/monetary quintile segmentation ---------

  /** RFM segmentation (Hughes 1994 — the standard behavioral-cohort cut):
    * per purchasing user, recency = whole days between their last purchase
    * and the corpus purchase high-water, frequency = purchase count,
    * monetary = cents sum; each metric quintiled by range-partitioned
    * global rank (quintile 1 = best — most recent / most frequent /
    * highest spend — ties broken by user_id so the cut is deterministic),
    * segment code = r·100 + f·10 + m, rolled up to per-segment user counts
    * and exact metric sums (≤ 125 rows).
    *
    * Scale shape: one map-side-combined groupBy on user_id at fact scale;
    * everything after runs on the per-user frame (orders smaller), where
    * the three ranks are [[Tables.globalRank]] calls (no
    * single-partition window) chained over one shared user count, so
    * no rank counts another rank's output; the rollup key space is
    * ≤ 125. Recency
    * derives from pure epoch-second integer arithmetic (the events_dow_hour
    * portability contract — both subtraction operands are floors of the
    * same nanosecond values, so the day count is engine-exact). */
  def userRfm(spark: SparkSession, dir: String): DataFrame = {
    val perUser = Tables.events(spark, dir)
      .where(col("event_type") === "purchase")
      .withColumn("es", expr("(ts - pmod(ts, 1000000000)) div 1000000000"))
      .groupBy("user_id")
      .agg(max("es").as("last_es"), count(lit(1)).as("f_n"),
        sum(cents(col("value"))).as("m_cents"))
    val now = perUser.agg(max("last_es").as("now_es"))
    // bounded-cross: 1-row corpus high-water aggregate, N-independent
    val withR = perUser.crossJoin(broadcast(now))
      .withColumn("r_days", expr("(now_es - last_es) div 86400"))
    // the three ranks chain over one row set, so one user count serves
    // all three; withR is perUser plus a 1-row column, so count perUser
    val users = Tables.rankGroups(perUser, Nil)
    val r1 = Tables.globalRank(withR, users, Nil, col("last_es").desc, col("user_id"))
      .withColumnRenamed("rnk", "rnk_r").drop("n_total")
    val r2 = Tables.globalRank(r1, users, Nil, col("f_n").desc, col("user_id"))
      .withColumnRenamed("rnk", "rnk_f").drop("n_total")
    val r3 = Tables.globalRank(r2, users, Nil, col("m_cents").desc, col("user_id"))
      .withColumnRenamed("rnk", "rnk_m")
    r3
      .withColumn("segment", expr(
        """((rnk_r - 1) * 5 div n_total + 1) * 100 +
          |((rnk_f - 1) * 5 div n_total + 1) * 10 +
          |((rnk_m - 1) * 5 div n_total + 1)""".stripMargin))
      .groupBy("segment")
      .agg(count(lit(1)).as("n_users"),
        sum("r_days").as("sum_r_days"),
        sum("f_n").as("sum_f"),
        sum("m_cents").as("sum_m_cents"))
      .orderBy("segment")
  }

  val userRfmSql: String =
    """WITH p AS (
      |  SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS es,
      |         CAST(round(value * 100) AS BIGINT) AS cents
      |  FROM events WHERE event_type = 'purchase'),
      |u AS (
      |  SELECT user_id, max(es) AS last_es,
      |         CAST(count(*) AS BIGINT) AS f_n,
      |         CAST(sum(cents) AS BIGINT) AS m_cents
      |  FROM p GROUP BY user_id),
      |w AS (SELECT u.*, (SELECT max(last_es) FROM u) AS now_es FROM u),
      |r AS (
      |  SELECT (now_es - last_es) // 86400 AS r_days, f_n, m_cents,
      |         CAST(row_number() OVER (ORDER BY last_es DESC, user_id) AS BIGINT) AS rnk_r,
      |         CAST(row_number() OVER (ORDER BY f_n DESC, user_id) AS BIGINT) AS rnk_f,
      |         CAST(row_number() OVER (ORDER BY m_cents DESC, user_id) AS BIGINT) AS rnk_m,
      |         CAST(count(*) OVER () AS BIGINT) AS n_total
      |  FROM w),
      |q AS (
      |  SELECT ((rnk_r - 1) * 5 // n_total + 1) * 100 +
      |         ((rnk_f - 1) * 5 // n_total + 1) * 10 +
      |         ((rnk_m - 1) * 5 // n_total + 1) AS segment,
      |         r_days, f_n, m_cents
      |  FROM r)
      |SELECT segment, CAST(count(*) AS BIGINT) AS n_users,
      |       CAST(sum(r_days) AS BIGINT) AS sum_r_days,
      |       CAST(sum(f_n) AS BIGINT) AS sum_f,
      |       CAST(sum(m_cents) AS BIGINT) AS sum_m_cents
      |FROM q GROUP BY segment ORDER BY segment""".stripMargin

  // ---- attribution_credit: multi-touch conversion attribution -------------

  /** Multi-touch attribution over the event stream: each purchase
    * (conversion) is credited to the user's non-purchase touches since
    * their previous purchase — first-touch and last-touch counts plus
    * linear fractional credit (1e6 div n_touches fixed-point per touch,
    * so credit sums stay exact integers; the ≤ (n−1)·1e-6 shortfall per
    * conversion is the documented fixed-point remainder). A purchase with
    * NO preceding touch is a '(direct)' conversion with full 1e6 credit.
    * Conversion windows come from a running purchase count over each
    * user's (ts, event_id)-ordered stream: a touch row with k completed
    * purchases before it belongs to conversion k+1 of its user; touches
    * after the user's last purchase attribute to nothing and drop in the
    * inner join.
    *
    * Scale shape: ONE shuffle on user_id shared by the running count and
    * both per-conversion windows (identical partition key, Catalyst
    * reuses the exchange), then channel rollups over ≤ |event_type| keys;
    * no self-join at fact scale — the touch→conversion pairing is an
    * equi-join on (user_id, conv), fan-out 1. */
  def attributionCredit(spark: SparkSession, dir: String): DataFrame = {
    val wRun = Window.partitionBy("user_id").orderBy("ts", "event_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wUser = Window.partitionBy("user_id")
    // a touch needs a FOLLOWING purchase to attribute to; that is a pure
    // window predicate (cp < the user's total purchase count), not a
    // join — the first cut joined touches to conversions on (user, conv)
    // and the plan re-derived the window chain per branch (10 parquet
    // scans at explain); this shape scans events once per output branch
    val ev = Tables.events(spark, dir)
      .withColumn("is_p", (col("event_type") === "purchase").cast("long"))
      .withColumn("cp", sum("is_p").over(wRun))
      .withColumn("p_total", sum("is_p").over(wUser))
    val attributed = ev.where(col("is_p") === 0 && col("cp") < col("p_total"))
      .select(col("user_id"), (col("cp") + 1).as("conv"),
        col("event_type").as("channel"), col("ts"), col("event_id"))
    // (user_id, conv) windows need no new exchange: hash(user_id) already
    // clusters (user_id, conv); last-touch is arithmetic on the ascending
    // rank (rn_f == n_touches), so ONE sort order serves both ends
    val wConv = Window.partitionBy("user_id", "conv")
    val marked = attributed
      .withColumn("n_touches", count(lit(1)).over(wConv))
      .withColumn("rn_f", row_number().over(wConv.orderBy("ts", "event_id")))
    val byChannel = marked.groupBy("channel")
      .agg(sum(when(col("rn_f") === 1, 1L).otherwise(0L)).as("n_first"),
        sum(when(col("rn_f") === col("n_touches"), 1L).otherwise(0L)).as("n_last"),
        count(lit(1)).as("n_touches_total"),
        sum(expr("1000000 div n_touches")).as("credit_linear_e6"))
    // touchless conversions by arithmetic: every touched conversion has
    // exactly one rn_f = 1 row, so touched = Σ n_first and direct =
    // all − touched; the conversion total is a pushed-filter scan count,
    // no window chain at all
    val nConv = Tables.events(spark, dir)
      .where(col("event_type") === "purchase")
      .agg(count(lit(1)).as("n_conv"))
    // bounded-cross: 1-row conversion count × 1-row touched-conversion sum
    val direct = nConv.crossJoin(
        broadcast(byChannel.agg(
          coalesce(sum("n_first"), lit(0L)).as("n_touched"))))
      .select(lit("(direct)").as("channel"),
        (col("n_conv") - col("n_touched")).as("n_first"),
        (col("n_conv") - col("n_touched")).as("n_last"),
        lit(0L).as("n_touches_total"),
        ((col("n_conv") - col("n_touched")) * 1000000L).as("credit_linear_e6"))
    byChannel.unionByName(direct)
      .orderBy("channel")
  }

  val attributionCreditSql: String =
    """WITH e AS (
      |  SELECT user_id, event_id, ts, event_type,
      |         CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS is_p
      |  FROM events),
      |c AS (
      |  SELECT *, CAST(sum(is_p) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cp
      |  FROM e),
      |convs AS (SELECT user_id, cp AS conv FROM c WHERE is_p = 1),
      |touches AS (
      |  SELECT user_id, cp + 1 AS conv, event_type AS channel, ts, event_id
      |  FROM c WHERE is_p = 0),
      |attributed AS (
      |  SELECT t.* FROM touches t JOIN convs v USING (user_id, conv)),
      |marked AS (
      |  SELECT channel,
      |         CAST(count(*) OVER (PARTITION BY user_id, conv) AS BIGINT) AS n_touches,
      |         row_number() OVER (PARTITION BY user_id, conv ORDER BY ts, event_id) AS rn_f,
      |         row_number() OVER (PARTITION BY user_id, conv ORDER BY ts DESC, event_id DESC) AS rn_l
      |  FROM attributed),
      |by_channel AS (
      |  SELECT channel,
      |         CAST(sum(CASE WHEN rn_f = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_first,
      |         CAST(sum(CASE WHEN rn_l = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_last,
      |         CAST(count(*) AS BIGINT) AS n_touches_total,
      |         CAST(sum(1000000 // n_touches) AS BIGINT) AS credit_linear_e6
      |  FROM marked GROUP BY channel),
      |direct AS (
      |  SELECT '(direct)' AS channel,
      |         CAST(count(*) AS BIGINT) AS n_first,
      |         CAST(count(*) AS BIGINT) AS n_last,
      |         CAST(0 AS BIGINT) AS n_touches_total,
      |         CAST(count(*) * 1000000 AS BIGINT) AS credit_linear_e6
      |  FROM convs v
      |  WHERE NOT EXISTS (SELECT 1 FROM attributed a
      |                    WHERE a.user_id = v.user_id AND a.conv = v.conv))
      |SELECT * FROM by_channel UNION ALL SELECT * FROM direct
      |ORDER BY channel""".stripMargin

  // ---- user_churn_hazard: discrete survival hazard table ------------------

  /** Censoring horizon: a user whose last event is within this many days
    * of the corpus high-water is CENSORED (still alive), not churned. */
  val ChurnHorizonDays = 7L

  /** Discrete churn-hazard table (the Kaplan–Meier life table's exact
    * half): per observed-lifetime day t, the users still at risk, the
    * churn events d(t), the censored exits, and the discrete hazard
    * d(t)/n(t) in e6 fixed point. The K-M survival CURVE itself is a
    * running product of floats — not cross-engine reproducible (the ln
    * caveat of the HLL estimator) and fully derivable from this table —
    * so the hazard table IS the operator: everything here is exact
    * integer arithmetic (one `div` per row).
    *
    * Censoring follows the standard right-censor rule: a user whose last
    * activity is within [[ChurnHorizonDays]] of the corpus high-water
    * may still return, so they exit the risk set at their observed
    * lifetime WITHOUT counting as a churn.
    *
    * Scale shape: one map-side-combined groupBy on user_id; the life
    * table itself is ≤ corpus-span-days rows, so its windows are
    * driver-trivial (the lang_quantiles precedent for tiny ordered
    * frames). */
  def userChurnHazard(spark: SparkSession, dir: String): DataFrame = {
    val perUser = Tables.events(spark, dir)
      .withColumn("es", expr("(ts - pmod(ts, 1000000000)) div 1000000000"))
      .groupBy("user_id")
      .agg(min("es").as("first_es"), max("es").as("last_es"))
    val hi = perUser.agg(max("last_es").as("hi_es"))
    // bounded-cross: 1-row corpus high-water aggregate, N-independent
    val u = perUser.crossJoin(broadcast(hi))
      .withColumn("obs_days", expr("(last_es - first_es) div 86400"))
      .withColumn("censored",
        (col("hi_es") - col("last_es") < ChurnHorizonDays * 86400L).cast("long"))
    val byDay = u.groupBy("obs_days")
      .agg(count(lit(1)).as("n_ending"),
        sum(when(col("censored") === 0, 1L).otherwise(0L)).as("n_churn"),
        sum("censored").as("n_censored"))
    val before = Window.orderBy("obs_days")
      .rowsBetween(Window.unboundedPreceding, -1)
    byDay
      .withColumn("n_total", sum("n_ending").over(
        Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
      .withColumn("n_at_risk",
        col("n_total") - coalesce(sum("n_ending").over(before), lit(0L)))
      .withColumn("hazard_e6", expr("(n_churn * 1000000) div n_at_risk"))
      .select("obs_days", "n_at_risk", "n_churn", "n_censored", "hazard_e6")
      .orderBy("obs_days")
  }

  val userChurnHazardSql: String =
    s"""WITH e AS (
       |  SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS es FROM events),
       |u0 AS (
       |  SELECT user_id, min(es) AS first_es, max(es) AS last_es
       |  FROM e GROUP BY user_id),
       |u AS (
       |  SELECT (last_es - first_es) // 86400 AS obs_days,
       |         CASE WHEN (SELECT max(last_es) FROM u0) - last_es
       |                   < ${ChurnHorizonDays * 86400L} THEN 1 ELSE 0 END AS censored
       |  FROM u0),
       |byday AS (
       |  SELECT obs_days, CAST(count(*) AS BIGINT) AS n_ending,
       |         CAST(sum(CASE WHEN censored = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_churn,
       |         CAST(sum(censored) AS BIGINT) AS n_censored
       |  FROM u GROUP BY obs_days),
       |risk AS (
       |  SELECT obs_days, n_ending, n_churn, n_censored,
       |         CAST(sum(n_ending) OVER () AS BIGINT)
       |           - CAST(coalesce(sum(n_ending) OVER (ORDER BY obs_days
       |               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
       |           AS n_at_risk
       |  FROM byday)
       |SELECT obs_days, n_at_risk, n_churn, n_censored,
       |       (n_churn * 1000000) // n_at_risk AS hazard_e6
       |FROM risk ORDER BY obs_days""".stripMargin

  // ---- events_forecast_baseline: seasonal-naive backtest ------------------

  /** Seasonal-naive forecast backtest over the weekly grid: hold out the
    * last 7 calendar days, forecast each (dow, hour) slot's event count
    * as the TRAIN-window mean for that slot (exact integer floor —
    * train-slot event sum div the ARITHMETIC count of that dow's
    * occurrences in the train window, so empty slots forecast 0 from a
    * correct denominator rather than dropping out), and report
    * per-slot forecast vs holdout actual with absolute error — the
    * backtest that certifies "last week's profile" as a capacity
    * baseline before anything fancier earns its complexity. The full
    * 7×24 grid is seeded explicitly: a slot with no events in EITHER
    * window still reports (0, 0, 0).
    *
    * Scale shape: two map-side-combined groupBys over ≤ 168 keys; the
    * grid is a 168-row literal; day-window bounds are one 1-row
    * aggregate broadcast. Calendar math is the events_dow_hour
    * epoch-integer contract (dow 0 = Monday). */
  def eventsForecastBaseline(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .withColumn("es", expr("(ts - pmod(ts, 1000000000)) div 1000000000"))
      .withColumn("d", expr("(es - pmod(es, 86400)) div 86400"))
      .withColumn("dow", expr("pmod(d + 3, 7)"))
      .withColumn("hour", expr("pmod(es, 86400) div 3600"))
    val bounds = ev.agg(min("d").as("d_min"), max("d").as("d_max"))
    // bounded-cross: 1-row day-window bounds aggregate, N-independent
    val evb = ev.crossJoin(broadcast(bounds))
      .withColumn("d_train_hi", col("d_max") - lit(7L))
    val train = evb.where(col("d") <= col("d_train_hi"))
      .groupBy("dow", "hour")
      .agg(count(lit(1)).as("train_n"))
    val hold = evb.where(col("d") > col("d_train_hi"))
      .groupBy("dow", "hour")
      .agg(count(lit(1)).as("actual_n"))
    // bounded-cross: 7x24 literal grid x 1-row bounds
    val grid = spark.range(7).select(col("id").as("dow"))
      .crossJoin(spark.range(24).select(col("id").as("hour")))
      .crossJoin(broadcast(bounds))
      .withColumn("d_train_hi", col("d_max") - lit(7L))
      // occurrences of this dow in [d_min, d_train_hi]: first matching
      // day then every 7th — pure integer arithmetic, zero-safe
      .withColumn("dow_first",
        col("d_min") + pmod(col("dow") - pmod(col("d_min") + 3, lit(7L)), lit(7L)))
      .withColumn("n_occ",
        when(col("dow_first") > col("d_train_hi"), 0L)
          .otherwise(expr("(d_train_hi - dow_first) div 7 + 1")))
      .select("dow", "hour", "n_occ")
    grid
      .join(train, Seq("dow", "hour"), "left")
      .join(hold, Seq("dow", "hour"), "left")
      .withColumn("train_n", coalesce(col("train_n"), lit(0L)))
      .withColumn("actual_n", coalesce(col("actual_n"), lit(0L)))
      .withColumn("forecast_n",
        when(col("n_occ") === 0, 0L)
          .otherwise(expr("train_n div n_occ")))
      .withColumn("abs_err", abs(col("forecast_n") - col("actual_n")))
      .select("dow", "hour", "n_occ", "train_n", "forecast_n", "actual_n", "abs_err")
      .orderBy("dow", "hour")
  }

  val eventsForecastBaselineSql: String =
    """WITH e AS (
      |  SELECT CAST(floor(epoch(ts)) AS BIGINT) AS es FROM events),
      |ed AS (
      |  SELECT es, (es - ((es % 86400 + 86400) % 86400)) // 86400 AS d FROM e),
      |ex AS (
      |  SELECT d, ((d + 3) % 7 + 7) % 7 AS dow,
      |         ((es % 86400 + 86400) % 86400) // 3600 AS hour
      |  FROM ed),
      |bounds AS (SELECT min(d) AS d_min, max(d) - 7 AS d_train_hi FROM ed),
      |train AS (
      |  SELECT dow, hour, CAST(count(*) AS BIGINT) AS train_n
      |  FROM ex, bounds WHERE d <= d_train_hi GROUP BY dow, hour),
      |hold AS (
      |  SELECT dow, hour, CAST(count(*) AS BIGINT) AS actual_n
      |  FROM ex, bounds WHERE d > d_train_hi GROUP BY dow, hour),
      |grid AS (
      |  SELECT dw.dow, hr.hour,
      |         b.d_min + ((dw.dow - ((b.d_min + 3) % 7 + 7) % 7) % 7 + 7) % 7 AS dow_first,
      |         b.d_train_hi
      |  FROM (SELECT unnest(range(0, 7)) AS dow) dw
      |  CROSS JOIN (SELECT unnest(range(0, 24)) AS hour) hr
      |  CROSS JOIN bounds b),
      |go AS (
      |  SELECT dow, hour,
      |         CASE WHEN dow_first > d_train_hi THEN 0
      |              ELSE (d_train_hi - dow_first) // 7 + 1 END AS n_occ
      |  FROM grid)
      |SELECT g.dow, g.hour, CAST(g.n_occ AS BIGINT) AS n_occ,
      |       coalesce(t.train_n, 0) AS train_n,
      |       CASE WHEN g.n_occ = 0 THEN 0
      |            ELSE coalesce(t.train_n, 0) // g.n_occ END AS forecast_n,
      |       coalesce(h.actual_n, 0) AS actual_n,
      |       abs(CASE WHEN g.n_occ = 0 THEN 0
      |                ELSE coalesce(t.train_n, 0) // g.n_occ END
      |           - coalesce(h.actual_n, 0)) AS abs_err
      |FROM go g
      |LEFT JOIN train t ON t.dow = g.dow AND t.hour = g.hour
      |LEFT JOIN hold h ON h.dow = g.dow AND h.hour = g.hour
      |ORDER BY g.dow, g.hour""".stripMargin

  // ---- q17_smallqty: correlated small-quantity revenue (TPC-H Q17 shape) --

  /** TPC-H Q17's correlated-scalar-subquery shape, decorrelated the way
    * Catalyst wants it: revenue sitting in below-average-quantity line
    * items (qty < 0.2 × the part's average qty), rolled up per brand.
    * The correlation is an aggregate-join — per-part (count, qty sum)
    * grouped once, joined back to the fact on the SAME key (exchange
    * reuse: one shuffle feeds both) — and the 0.2·avg comparison is
    * EXACT integer cross-multiplication (qty_c · 5 · n < sum_qty_c), no
    * division anywhere. Brand comes from the broadcast part dim.
    *
    * Scale shape: one l_partkey shuffle shared by the aggregate and the
    * join; part is broadcast; output ≤ |brands| rows. */
  def q17SmallQty(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
      .select(col("l_partkey"),
        cents(col("l_quantity")).as("qc"),
        cents(col("l_extendedprice")).as("ec"))
    val per = li.groupBy("l_partkey")
      .agg(count(lit(1)).as("n_li"), sum("qc").as("sum_qc"))
    li.join(per, "l_partkey")
      .where(col("qc") * 5L * col("n_li") < col("sum_qc"))
      .join(broadcast(Tables.part(spark, dir).select("p_partkey", "p_brand")),
        col("l_partkey") === col("p_partkey"))
      .groupBy("p_brand")
      .agg(count(lit(1)).as("n_small"),
        sum("ec").as("small_rev_cents"))
      .orderBy("p_brand")
  }

  val q17SmallQtySql: String =
    """WITH li AS (
      |  SELECT l_partkey,
      |         CAST(round(l_quantity * 100) AS BIGINT) AS qc,
      |         CAST(round(l_extendedprice * 100) AS BIGINT) AS ec
      |  FROM lineitem),
      |per AS (
      |  SELECT l_partkey, CAST(count(*) AS BIGINT) AS n_li,
      |         CAST(sum(qc) AS BIGINT) AS sum_qc
      |  FROM li GROUP BY l_partkey)
      |SELECT p.p_brand, CAST(count(*) AS BIGINT) AS n_small,
      |       CAST(sum(li.ec) AS BIGINT) AS small_rev_cents
      |FROM li
      |JOIN per USING (l_partkey)
      |JOIN part p ON li.l_partkey = p.p_partkey
      |WHERE li.qc * 5 * per.n_li < per.sum_qc
      |GROUP BY p.p_brand ORDER BY p.p_brand""".stripMargin

  // ---- orders_backlog: interval-sweep open-order curve --------------------

  /** Open-order backlog curve by sweep-line: an order opens at
    * o_orderdate and closes after its LAST line item ships (max
    * l_shipdate per order — TPC-H's own notion of fulfillment), so the
    * daily backlog is the prefix sum of +1/−1 day deltas — NO interval
    * join, no per-day explosion: the classic sweep rewrite of "how many
    * intervals cover day t", which at 100 TB turns an O(orders × days)
    * stabbing problem into two keyed aggregations and a prefix sum over
    * the ≤ span-days delta frame. Output rows are the CHANGE days only
    * (backlog is constant between them). Epoch-second integer day math;
    * the date string is display formatting of the exact day index.
    *
    * Scale shape: one l_orderkey shuffle for the close dates (equi-join
    * back to orders on the same key), map-side-combined day-delta
    * aggregation, and a window over the tiny day frame. */
  def ordersBacklog(spark: SparkSession, dir: String): DataFrame = {
    // o_orderdate/l_shipdate are TIMESTAMP_NTZ: cast through TIMESTAMP
    // (session tz pinned UTC, so wall-clock == epoch) to get seconds
    val opens = Tables.orders(spark, dir)
      .select(col("o_orderkey"),
        expr("CAST(CAST(o_orderdate AS TIMESTAMP) AS LONG) div 86400").as("open_d"))
    val closes = Tables.lineitem(spark, dir)
      .groupBy("l_orderkey")
      .agg(expr("max(CAST(CAST(l_shipdate AS TIMESTAMP) AS LONG) div 86400)").as("close_d"))
    val deltas = opens
      .join(closes, col("o_orderkey") === col("l_orderkey"), "left")
      .select(col("open_d"),
        // an order with no line items never closes: delta row only for open
        coalesce(col("close_d") + 1L, lit(null).cast("long")).as("close_after"))
    val dOpen = deltas.groupBy(col("open_d").as("d"))
      .agg(count(lit(1)).as("n_open"))
    val dClose = deltas.where(col("close_after").isNotNull)
      .groupBy(col("close_after").as("d"))
      .agg(count(lit(1)).as("n_close"))
    val run = Window.orderBy("d")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    dOpen.join(dClose, Seq("d"), "full")
      .withColumn("n_open", coalesce(col("n_open"), lit(0L)))
      .withColumn("n_close", coalesce(col("n_close"), lit(0L)))
      .withColumn("backlog", sum(col("n_open") - col("n_close")).over(run))
      .withColumn("day", from_unixtime(col("d") * 86400L, "yyyy-MM-dd"))
      .select("d", "day", "n_open", "n_close", "backlog")
      .orderBy("d")
  }

  val ordersBacklogSql: String =
    """WITH opens AS (
      |  SELECT o_orderkey,
      |         CAST(floor(epoch(o_orderdate)) AS BIGINT) // 86400 AS open_d
      |  FROM orders),
      |closes AS (
      |  SELECT l_orderkey,
      |         max(CAST(floor(epoch(l_shipdate)) AS BIGINT) // 86400) AS close_d
      |  FROM lineitem GROUP BY l_orderkey),
      |deltas AS (
      |  SELECT o.open_d, c.close_d + 1 AS close_after
      |  FROM opens o LEFT JOIN closes c ON o.o_orderkey = c.l_orderkey),
      |d_open AS (
      |  SELECT open_d AS d, CAST(count(*) AS BIGINT) AS n_open
      |  FROM deltas GROUP BY open_d),
      |d_close AS (
      |  SELECT close_after AS d, CAST(count(*) AS BIGINT) AS n_close
      |  FROM deltas WHERE close_after IS NOT NULL GROUP BY close_after),
      |merged AS (
      |  SELECT coalesce(o.d, c.d) AS d,
      |         coalesce(o.n_open, 0) AS n_open,
      |         coalesce(c.n_close, 0) AS n_close
      |  FROM d_open o FULL OUTER JOIN d_close c ON o.d = c.d)
      |SELECT d, strftime(to_timestamp(d * 86400), '%Y-%m-%d') AS day,
      |       n_open, n_close,
      |       CAST(sum(n_open - n_close) OVER (ORDER BY d
      |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS backlog
      |FROM merged ORDER BY d""".stripMargin
}
