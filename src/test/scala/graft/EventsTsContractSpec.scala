package graft

import org.apache.spark.sql.functions._

/** Pins the events.ts read-boundary contract: whatever physical type the
  * testdata generation shipped (raw long nanoseconds from
  * TIMESTAMP(NANOS)+nanosAsLong, or TIMESTAMP(MICROS) read as
  * TIMESTAMP_NTZ), `Tables.events` presents ts as long NANOSECONDS since
  * epoch — the one arithmetic every downstream operator assumes. */
class EventsTsContractSpec extends SparkSpec {

  test("current testdata reads as long nanoseconds") {
    val ev = Tables.events(spark, Sf0001)
    assert(ev.schema("ts").dataType ===
      org.apache.spark.sql.types.LongType)
    val r = ev.agg(min("ts").as("lo"), max("ts").as("hi")).head()
    // 2001-09-09T01:46:40Z .. 2033-05-18T03:33:20Z in ns — a value in
    // microseconds or seconds would fall far outside this window
    assert(r.getAs[Long]("lo") > 1000000000L * 1000000000L)
    assert(r.getAs[Long]("hi") < 2000000000L * 1000000000L)
  }

  test("a long-typed ts generation passes through unchanged") {
    val work = scratchDir("graft-tslong-")
    val src = Tables.events(spark, Sf0001).select("event_id", "ts")
    src.write.mode("overwrite").parquet(s"$work/events.parquet")
    val back = Tables.events(spark, work)
    assert(back.schema("ts").dataType ===
      org.apache.spark.sql.types.LongType)
    val a = src.orderBy("event_id").collect().map(r => (r.getLong(0), r.getLong(1)))
    val b = back.select("event_id", "ts").orderBy("event_id")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(a === b)
  }

  test("a timestamp-typed ts generation normalizes to the same instants") {
    val s = spark
    import s.implicits._
    val work = scratchDir("graft-tsntz-")
    val src = Tables.events(spark, Sf0001).select("event_id", "ts")
    // rebuild the TIMESTAMP(MICROS) physical shape from the ns longs
    src.select(col("event_id"),
        expr("cast(timestamp_micros(ts div 1000) as timestamp_ntz)").as("ts"))
      .write.mode("overwrite").parquet(s"$work/events.parquet")
    val back = Tables.events(spark, work)
    assert(back.schema("ts").dataType ===
      org.apache.spark.sql.types.LongType)
    val a = src.select(col("event_id"),
        (expr("ts div 1000") * 1000L).as("ts_us_ns")) // ns floored to µs
      .orderBy("event_id").collect().map(r => (r.getLong(0), r.getLong(1)))
    val b = back.select("event_id", "ts").orderBy("event_id")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(a === b)
  }
}
