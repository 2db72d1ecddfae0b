package graft.cdc

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** PostgreSQL WAL-position ("LSN") text format: `X/Y`, the high and low
  * 32-bit words of a u64 position in unpadded uppercase hex (e.g.
  * `16/B374D848`, `0/0`).
  *
  * The reference consumes this format at its wire seams: the
  * `consistent_point` returned by CREATE_REPLICATION_SLOT is an `X/Y`
  * string handed textually to START_REPLICATION (reference
  * src/cdc/replication.rs:34-92), while the XLogData/keepalive binary
  * path carries the same position as a u64 it renders back as hi/lo for
  * tracing (src/cdc/replication.rs:169-280). These expressions are that
  * boundary as Catalyst columns: pure `conv`/`hex`/shift compositions —
  * codegen'd, no UDF — so a 100 TB backfill keyed on textual LSNs from a
  * slot catalog parses them at scan speed.
  *
  * Semantics pinned by LsnSpec: unpadded uppercase render (`0/0` for
  * zero), case-insensitive parse, full-u64 round-trip (the sign bit
  * rides the hi word: `FFFFFFFF/FFFFFFFF` ↔ -1L bit pattern).
  */
object Lsn {

  /** u64 wal position → `X/Y` text (hi word / lo word, unpadded hex). */
  def lsnToHex(lsn: Column): Column =
    concat(hex(shiftrightunsigned(lsn, 32)), lit("/"),
      hex(lsn.bitwiseAND(lit(0xFFFFFFFFL))))

  /** `X/Y` text → u64 wal position. Case-insensitive like Postgres's own
    * input function, as `conv` reads either case (an `upper` costs a 1.7 s
    * cold ICU table build on Spark 4); the hi word is recombined with a
    * wrapping shift so positions past 2^63 keep their bit pattern. */
  def lsnFromHex(s: Column): Column = {
    val parts = split(s, "/")
    shiftleft(conv(parts.getItem(0), 16, 10).cast("long"), 32)
      .bitwiseOR(conv(parts.getItem(1), 16, 10).cast("long"))
  }

  // ---- lsn_roundtrip ------------------------------------------------------

  /** Wire-format fidelity over the message stream: each document's LSN is
    * lifted to a two-word wal position (hi = 4·lsn, lo = lsn — both words
    * exercised, no carries), rendered to `X/Y`, and parsed back; `ok`
    * asserts the round-trip identity per row. The oracle renders with
    * printf and re-parses with an explicit hex-digit fold, so both sides
    * compute the parse honestly rather than assuming it. */
  def lsnRoundtrip(spark: SparkSession, dir: String): DataFrame =
    ChangeFeed.messages(spark, dir)
      .select(col("lsn"))
      .withColumn("wal_pos", shiftleft(col("lsn"), 34).bitwiseOR(col("lsn")))
      .withColumn("wal_hex", lsnToHex(col("wal_pos")))
      .withColumn("parsed", lsnFromHex(col("wal_hex")))
      .withColumn("ok", col("parsed") === col("wal_pos"))
      .orderBy("lsn")

  private val HexFold =
    "list_reduce(list_transform(string_split(%s, ''), " +
      "c -> CAST(strpos('0123456789ABCDEF', c) - 1 AS BIGINT)), (a, b) -> a * 16 + b)"

  val lsnRoundtripSql: String = {
    val hiFold = HexFold.format("split_part(wal_hex, '/', 1)")
    val loFold = HexFold.format("split_part(wal_hex, '/', 2)")
    s"""WITH pos AS (
       |  SELECT event_id AS lsn,
       |         event_id * 17179869184 + event_id AS wal_pos
       |  FROM events),
       |fmt AS (
       |  SELECT lsn, wal_pos,
       |         printf('%X/%X', wal_pos // 4294967296, wal_pos % 4294967296) AS wal_hex
       |  FROM pos),
       |par AS (
       |  SELECT lsn, wal_pos, wal_hex,
       |         $hiFold * 4294967296 + $loFold AS parsed
       |  FROM fmt)
       |SELECT lsn, wal_pos, wal_hex, parsed, parsed = wal_pos AS ok
       |FROM par ORDER BY lsn""".stripMargin
  }
}
