package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Tables.globalRank against the single-window rank it distributes. The
  * input is spread over 16 partitions, so the range exchange samples its
  * bounds per input partition and the sequence numbers rows across
  * several sorted ranges — a case the one-partition sf0.001/sf0.01
  * corpora never reach. The whole output is compared, every input
  * column kept as real callers keep them. Building the ranked frame must
  * run no Spark job: the rank is a plan, so its sort and count show in
  * `explain`, and nothing is materialized before the caller's action. */
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
      val (ranked, jobs) = jobsRunBy("build the ranked frame") {
        Tables.globalRank(df, within, order: _*)
      }
      assert(jobs.isEmpty, s"within = $within: building the rank ran a Spark job")
      assert(!ranked.schema("rnk").nullable)
      assert(ranked.columns.toSeq == df.columns.toSeq :+ "rnk" :+ "n_total")
      val got = ranked.orderBy("id").collect().toSeq
      assert(got.size == want.size)
      val wrong = got.zip(want).count { case (a, b) => a != b }
      assert(wrong == 0, s"within = $within: $wrong of ${want.size} rows differ")
    }
  }

  test("a chain of ranks over one shared group frame counts its input once") {
    val df = spark.range(20000).repartition(16)
      .select(col("id"), (col("id") % 3).as("g"), (col("id") * 7919 % 5).as("k"),
        (col("id") * 104729 % 11).as("m"))
    for (within <- Seq(Nil, Seq("g"))) {
      val w = Window.partitionBy(within.map(col): _*)
      val want = df
        .withColumn("r1", row_number().over(w.orderBy(col("k").desc, col("id"))).cast("long"))
        .withColumn("r2", row_number().over(w.orderBy(col("m"), col("id"))).cast("long"))
        .withColumn("n_total", count(lit(1)).over(w))
        .orderBy("id").collect().toSeq
      val groups = Tables.rankGroups(df, within)
      val r1 = Tables.globalRank(df, groups, within, col("k").desc, col("id"))
        .withColumnRenamed("rnk", "r1").drop("n_total")
      val chained = Tables.globalRank(r1, groups, within, col("m"), col("id"))
        .withColumnRenamed("rnk", "r2")
      // one join per rank: the second rank does not count the first's output
      val joins = chained.queryExecution.optimizedPlan.collect {
        case j: org.apache.spark.sql.catalyst.plans.logical.Join => j
      }
      assert(joins.size == 2, s"within = $within: ${joins.size} joins")
      val got = chained.orderBy("id").collect().toSeq
      assert(got == want, s"within = $within: the chained ranks differ")
    }
  }
}
