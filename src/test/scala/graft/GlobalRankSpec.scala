package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Tables.globalRank against the single-window rank it distributes. The
  * input is spread over 16 partitions, so the range exchange samples its
  * bounds per input partition — the case the bucket pin exists for, and
  * one the one-partition sf0.001/sf0.01 corpora never reach. */
class GlobalRankSpec extends SparkSpec {

  test("globalRank equals row_number over one window on a multi-partition frame") {
    // few distinct leading keys (many ties), a unique id last
    val df = spark.range(20000).repartition(16)
      .select(col("id"), (col("id") % 3).as("g"), (col("id") * 7919 % 5).as("k"))
    val order = Seq(col("k").desc, col("id"))
    for (within <- Seq(Nil, Seq("g"))) {
      val w = Window.partitionBy(within.map(col): _*)
      val want = df.select(col("id"), row_number().over(w.orderBy(order: _*)).cast("long"),
          count(lit(1)).over(w))
        .orderBy("id").collect().toSeq
      val ranked = Tables.globalRank(df, within, order: _*)
      assert(!ranked.schema("rnk").nullable)
      val got = ranked.select("id", "rnk", "n_total").orderBy("id").collect().toSeq
      assert(got == want, s"within = $within")
    }
  }
}
