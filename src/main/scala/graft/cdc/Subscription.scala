package graft.cdc

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Subscription DSL parse / validation / auth restriction.
  *
  * DSL: `change_type:table[:col.op.val]` with change_type ∈
  * {insert, update, delete, *} and op ∈ {eq, in} (reference
  * src/api/query.rs:9-85). Tables are validated against the detected
  * catalog (reference src/cdc/mod.rs:29-47). Subscriptions are a small
  * driver-side config — the analogue of the reference's in-memory session
  * map — so every join against them is a broadcast; the change feed never
  * shuffles for routing.
  */
object Subscription {

  /** Seed subscriptions, including the reference's edge cases: unknown
    * table (s4), bad flag (s5), filter on a column deletes do carry (s6),
    * filter on a column that never exists (s7), a direct chunk-table
    * subscription (s8), comma-combined change types (s9, reference
    * query.rs:16-18 ORs each token's flag), a malformed filter op (s10 —
    * reference query.rs:55-73 yields specific=None, the subscription
    * stays live UNFILTERED), and a filter value containing dots (s11 —
    * splitn(3,'.') keeps the remainder intact). */
  val SubsSeed: Seq[(String, String)] = Seq(
    "s1" -> "*:cpustats",
    "s2" -> "insert:memstats:k.eq.42",
    "s3" -> "update:swapstats:user_id.in.1,2,3",
    "s4" -> "insert:unknown_tbl",
    "s5" -> "bogus:cpustats",
    "s6" -> "delete:cpustats:event_id.eq.17",
    "s7" -> "insert:cpustats:missing_col.eq.5",
    "s8" -> "*:_hyper_1_3_chunk",
    "s9" -> "insert,delete,bogus:cpustats",
    "s10" -> "update:memstats:k.gt.5",
    "s11" -> "insert:swapstats:k.in.1.5,2.5",
    "s12" -> "insert:cpustats:user_id.eq.7",
    "s13" -> "insert:cpustats:user_id.eq.9",
    // s14 pins colon truncation: the reference's plain split(':') hands the
    // third next() only the third segment, so the value is "a", ":b" dropped
    "s14" -> "insert:cpustats:k.eq.a:b")

  /** Detected table list (reference src/cdc/mod.rs:29-47): chunk names are
    * present in the live catalog alongside base hypertables. */
  val Catalog: Seq[String] =
    Seq("_hyper_1_3_chunk", "_hyper_2_7_chunk", "cpustats", "memstats", "swapstats")

  /** sub_id → admin: admins bypass row-level auth
    * (reference src/api/auth.rs:126-143). */
  val Admins: Seq[String] = Seq("s1")

  /** Ownership: (sub_id, owned user_id value) — the analogue of the
    * reference's ApiKey owner↔host check (src/api/auth.rs:144-171).
    * s12 owns uid 7; s13 owns nothing. */
  val Owners: Seq[(String, Long)] =
    Seq("s2" -> 3L, "s2" -> 7L, "s3" -> 1L, "s3" -> 2L, "s12" -> 7L)

  /** Columns a non-admin may restrict on (src/api/auth.rs:136,176-182
    * host_uuid/uuid/customer_id/key — user_id is this feed's analogue). */
  val OwnershipCols: Seq[String] = Seq("user_id")

  def subs(spark: SparkSession): DataFrame = {
    import spark.implicits._
    SubsSeed.toDF("sub_id", "q")
  }

  /** Regex splitting the optional filter clause `col.op.rest`: the op must
    * be eq/in and the value keeps any further dots (the reference's
    * `splitn(3, '.')`, query.rs:54-73). No match ⇒ all groups '' ⇒ no
    * filter — the subscription stays live unfiltered, exactly like the
    * reference's `specific = None` fallthrough. */
  val FilterRe = "^([^.]*)\\.(eq|in)\\.(.*)$"

  /** Parse the DSL. The change-type part is a comma list whose per-token
    * flags OR together, unknown tokens contributing nothing (reference
    * query.rs:16-18, ws_utils.rs:38-57); a subscription is parse-valid iff
    * the combined flag is non-zero (query.rs:27-31). Bit values are
    * insert=1, update=2, delete=4 (the reference's 1<<1,1<<2,1<<3 shifted
    * down — only equality/OR tests ever touch them). */
  def parsed(spark: SparkSession): DataFrame =
    subs(spark).select(
      col("sub_id"), col("q"),
      expr("split_part(q, ':', 1)").as("flag_str"),
      expr("split_part(q, ':', 2)").as("tbl"),
      regexp_extract(expr("split_part(q, ':', 3)"), FilterRe, 1).as("fcol"),
      regexp_extract(expr("split_part(q, ':', 3)"), FilterRe, 2).as("fop"),
      regexp_extract(expr("split_part(q, ':', 3)"), FilterRe, 3).as("fval"))
      .withColumn("flag", expr(
        """aggregate(split(flag_str, ','), 0, (f, t) -> f |
          |  CASE t WHEN '*' THEN 7 WHEN 'insert' THEN 1
          |    WHEN 'update' THEN 2 WHEN 'delete' THEN 4 ELSE 0 END)""".stripMargin))
      .withColumn("valid", expr("flag > 0"))

  /** Parsed subs validated against the catalog; routable = parse-valid
    * AND known. Catalog membership is an `isin` column, so the whole frame
    * optimizes to a local relation: the fan-out broadcasts it without a
    * Spark job. `tbl` comes from split_part and is never NULL, but its
    * type is nullable: the coalesce keeps `table_known` non-nullable in
    * the written schema. */
  def validated(spark: SparkSession): DataFrame =
    parsed(spark)
      .withColumn("table_known", coalesce(col("tbl").isin(Catalog: _*), lit(false)))
      .withColumn("routable", col("valid") && col("table_known"))

  /** The subscriptions the fan-out routes to. A streaming query builds
    * this frame once and hands it to every micro-batch's fan-out. */
  def routable(spark: SparkSession): DataFrame =
    validated(spark).where(col("routable"))

  // ---- queries ------------------------------------------------------------

  def subscriptionRoute(spark: SparkSession, dir: String): DataFrame =
    parsed(spark)
      .select("sub_id", "q", "flag", "tbl", "fcol", "fop", "fval", "valid")
      .orderBy("sub_id")

  def tableRouteValidate(spark: SparkSession, dir: String): DataFrame =
    validated(spark)
      .select("sub_id", "tbl", "table_known", "routable")
      .orderBy("sub_id")

  /** Subscriptions that pass the connect-time auth gate (reference
    * src/api/ws_handler.rs:47-57 + src/api/auth.rs:126-224): admins
    * bypass; a non-admin is accepted only when their subscription carries
    * an `eq` filter (an `in` filter is an Array value → InvalidRequest,
    * auth.rs:129-134) on an ownership column, whose value they own. */
  def authAllowed(spark: SparkSession): DataFrame = {
    import spark.implicits._
    val owners = Owners.toDF("o_sub_id", "o_user_id")
      .select(col("o_sub_id"), col("o_user_id").cast("string").as("o_uid"))
    val admins = Admins.toDF("a_sub_id")
    routable(spark)
      .join(broadcast(admins), col("sub_id") === col("a_sub_id"), "left")
      .join(broadcast(owners),
        col("sub_id") === col("o_sub_id") && col("fval") === col("o_uid"), "left")
      .where(col("a_sub_id").isNotNull ||
        (col("fop") === "eq" &&
          col("fcol").isin(OwnershipCols.map(_.asInstanceOf[Any]): _*) &&
          col("o_sub_id").isNotNull))
      .select("sub_id")
  }

  /** Fan-out restricted to auth-accepted subscriptions. Row-level
    * restriction then follows from the subscription's own eq filter —
    * exactly the reference's model, where the gate runs once per connect
    * and the specific filter does the per-message work. */
  def authRestrict(spark: SparkSession, dir: String): DataFrame = {
    // Connect-time gate order: the reference's auth check runs once per
    // socket, BEFORE the forwarder sees a change (src/api/auth.rs:126-224),
    // so the subscription side is restricted first and only the accepted
    // subset fans out — unauthorized legs are never materialized, and the
    // fan-out's broadcast join on the subscription's table drops the
    // changes of every table no accepted subscription names.
    val allowedSubs = routable(spark)
      .join(broadcast(authAllowed(spark)), Seq("sub_id"))
    Forwarder.fanoutOver(spark, ChangeFeed.decodedWithMap(spark, dir), allowedSubs)
      .select("sub_id", "lsn", "idx", "base", "kind")
      .orderBy("sub_id", "lsn", "idx")
  }

  // ---- oracle -------------------------------------------------------------

  val SubsCte: String = {
    val rows = SubsSeed.map { case (id, q) => s"('$id','$q')" }.mkString(", ")
    s"subs(sub_id, q) AS (VALUES $rows)"
  }

  val ParsedCte: String =
    s"""$SubsCte,
       |parsed AS (
       |  SELECT sub_id, q,
       |         split_part(q, ':', 1) AS flag_str,
       |         split_part(q, ':', 2) AS tbl,
       |         regexp_extract(split_part(q, ':', 3), '$FilterRe', 1) AS fcol,
       |         regexp_extract(split_part(q, ':', 3), '$FilterRe', 2) AS fop,
       |         regexp_extract(split_part(q, ':', 3), '$FilterRe', 3) AS fval,
       |         list_reduce(list_prepend(0, list_transform(string_split(split_part(q, ':', 1), ','),
       |           t -> CASE t WHEN '*' THEN 7 WHEN 'insert' THEN 1
       |                WHEN 'update' THEN 2 WHEN 'delete' THEN 4 ELSE 0 END)),
       |           (f, x) -> f | x) AS flag
       |  FROM subs),
       |parsed2 AS (
       |  SELECT *, flag > 0 AS valid
       |  FROM parsed),
       |cat(cat_tbl) AS (VALUES ${Catalog.map(t => s"('$t')").mkString(", ")}),
       |validated AS (
       |  SELECT p.*, c.cat_tbl IS NOT NULL AS table_known,
       |         p.valid AND c.cat_tbl IS NOT NULL AS routable
       |  FROM parsed2 p LEFT JOIN cat c ON p.tbl = c.cat_tbl)""".stripMargin

  val subscriptionRouteSql: String =
    s"""WITH $ParsedCte
       |SELECT sub_id, q, flag, tbl, fcol, fop, fval, valid
       |FROM parsed2 ORDER BY sub_id""".stripMargin

  val tableRouteValidateSql: String =
    s"""WITH $ParsedCte
       |SELECT sub_id, tbl, table_known, routable
       |FROM validated ORDER BY sub_id""".stripMargin

  val OwnersCte: String = {
    val rows = Owners.map { case (id, u) => s"('$id',$u)" }.mkString(", ")
    s"owners(o_sub_id, o_user_id) AS (VALUES $rows)"
  }

  val AdminsCte: String =
    s"admins(a_sub_id) AS (VALUES ${Admins.map(a => s"('$a')").mkString(", ")})"

  /** def, not val: Forwarder.FanoutCtes itself refers back into this
    * object, so a val would capture a half-initialized (null) CTE. */
  def authRestrictSql: String = {
    val ownCols = OwnershipCols.map(c => s"'$c'").mkString(", ")
    s"""WITH ${Forwarder.FanoutCtes},
       |$OwnersCte,
       |$AdminsCte,
       |allowed AS (
       |  SELECT v.sub_id
       |  FROM validated v
       |  LEFT JOIN admins a ON v.sub_id = a.a_sub_id
       |  LEFT JOIN owners o ON v.sub_id = o.o_sub_id
       |    AND v.fval = CAST(o.o_user_id AS VARCHAR)
       |  WHERE v.routable AND (a.a_sub_id IS NOT NULL
       |     OR (v.fop = 'eq' AND v.fcol IN ($ownCols) AND o.o_sub_id IS NOT NULL)))
       |SELECT f.sub_id, f.lsn, f.idx, f.base, f.kind
       |FROM fanout f JOIN allowed w ON f.sub_id = w.sub_id
       |ORDER BY f.sub_id, f.lsn, f.idx""".stripMargin
  }
}
