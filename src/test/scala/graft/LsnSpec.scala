package graft

import graft.cdc.Lsn
import org.apache.spark.sql.functions._

/** `X/Y` WAL-position text format edge cases (reference
  * src/cdc/replication.rs:34-92, 169-280): unpadded uppercase render,
  * case-insensitive parse, and full-u64 round-trips including positions
  * whose hi word sets the sign bit. */
class LsnSpec extends SparkSpec {

  private def roundtrip(xs: Seq[Long]): Seq[(Long, String, Long)] = {
    val s = spark
    import s.implicits._
    xs.toDF("x")
      .select(col("x"), Lsn.lsnToHex(col("x")).as("h"))
      .withColumn("back", Lsn.lsnFromHex(col("h")))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
  }

  test("render is unpadded uppercase hi/lo, parse inverts it") {
    val cases = Seq(
      0L -> "0/0",
      1L -> "0/1",
      0xB374D848L -> "0/B374D848",
      ((0x16L << 32) | 0xB374D848L) -> "16/B374D848",
      -1L -> "FFFFFFFF/FFFFFFFF") // u64 max: sign bit rides the hi word
    val got = roundtrip(cases.map(_._1))
    cases.zip(got).foreach { case ((x, hex), (x2, h, back)) =>
      assert(x === x2)
      assert(h === hex, s"render of $x")
      assert(back === x, s"round-trip of $x")
    }
  }

  test("parse accepts lowercase and mixed case") {
    val s = spark
    import s.implicits._
    val parsed = Seq("16/b374d848", "16/B374d848", "0/a")
      .toDF("h").select(Lsn.lsnFromHex(col("h")))
    val got = parsed.collect().map(_.getLong(0)).toSeq
    assert(got === Seq((0x16L << 32) | 0xB374D848L,
      (0x16L << 32) | 0xB374D848L, 10L))
    // conv reads either case; an `upper` would cost a cold ICU table build
    assert(parsed.queryExecution.analyzed.expressions
      .forall(_.find(_.nodeName == "Upper").isEmpty), "the parse must not upper-case")
  }

  test("round-trip holds across random u64 positions") {
    val rnd = new scala.util.Random(7)
    val xs = Seq.fill(50)(rnd.nextLong())
    assert(roundtrip(xs).forall { case (x, _, back) => back == x })
  }
}
