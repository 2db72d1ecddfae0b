package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Tables.globalRank against the single-window rank it distributes. The
  * input is spread over 16 partitions, so the range exchange samples its
  * bounds per input partition — the case the bucket pin exists for, and
  * one the one-partition sf0.001/sf0.01 corpora never reach. The whole
  * output is compared, every input column kept as real callers keep
  * them: a projection down to the rank columns lets column pruning make
  * the rank and offset branches' range exchanges identical, Spark then
  * reuses one exchange for both, and a missing pin goes unseen. */
class GlobalRankSpec extends SparkSpec {

  test("globalRank equals row_number over one window on a multi-partition frame") {
    // few distinct leading keys (many ties), a unique id last
    val df = spark.range(20000).repartition(16)
      .select(col("id"), (col("id") % 3).as("g"), (col("id") * 7919 % 5).as("k"))
    val order = Seq(col("k").desc, col("id"))
    for (within <- Seq(Nil, Seq("g"))) {
      val w = Window.partitionBy(within.map(col): _*)
      val want = df.select(df.columns.toSeq.map(col) :+
          row_number().over(w.orderBy(order: _*)).cast("long").as("rnk") :+
          count(lit(1)).over(w).as("n_total"): _*)
        .orderBy("id").collect().toSeq
      val ranked = Tables.globalRank(df, within, order: _*)
      assert(!ranked.schema("rnk").nullable)
      assert(ranked.columns.toSeq == df.columns.toSeq :+ "rnk" :+ "n_total")
      val got = ranked.orderBy("id").collect().toSeq
      assert(got.size == want.size)
      val wrong = got.zip(want).count { case (a, b) => a != b }
      assert(wrong == 0, s"within = $within: $wrong of ${want.size} rows differ")
    }
  }
}
