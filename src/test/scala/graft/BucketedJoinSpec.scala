package graft

import org.apache.spark.sql.functions._

/** Bucketed-table co-located join: writing both sides bucketed+sorted on
  * the join key must let the sort-merge join run with NO shuffle exchange
  * on either side — the physical-layout contract a 100 TB warehouse
  * relies on to join fact tables repeatedly without re-shuffling them
  * each time. This is a plan-shape property only a spec can check; there
  * is nothing row-level for the DuckDB oracle to see (SURVEY §2 row 96,
  * the layout complement of ShardSink's partition pruning row 66). */
class BucketedJoinSpec extends SparkSpec {

  test("bucketed+sorted tables join with zero shuffle exchanges") {
    val dir = scratchDir("graft-bucket-")
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10MB")
    try {
      // force the shuffle-join code path: a broadcast would hide whether
      // the bucket layout removed the exchanges
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val docs = Tables.documents(spark, Sf0001)
      docs.select(col("doc_id"), col("n_chars"))
        .write.bucketBy(8, "doc_id").sortBy("doc_id")
        .option("path", s"$dir/t1").saveAsTable("bj_t1")
      docs.select(col("doc_id"), col("lang"))
        .write.bucketBy(8, "doc_id").sortBy("doc_id")
        .option("path", s"$dir/t2").saveAsTable("bj_t2")

      val joined = spark.table("bj_t1").join(spark.table("bj_t2"), "doc_id")
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"), s"expected SortMergeJoin in:\n$plan")
      assert(!plan.contains("Exchange hashpartitioning"),
        s"bucket layout failed to remove the shuffle:\n$plan")
      assert(joined.count() === docs.count())

      // and the same join WITHOUT bucketing must show the exchanges the
      // layout saved — otherwise the assertion above proves nothing
      val flat1 = docs.select(col("doc_id"), col("n_chars"))
      val flat2 = docs.select(col("doc_id"), col("lang"))
      val unbucketed = flat1.join(flat2, "doc_id")
        .queryExecution.executedPlan.toString
      assert(unbucketed.contains("Exchange hashpartitioning"))
    } finally {
      spark.sql("DROP TABLE IF EXISTS bj_t1")
      spark.sql("DROP TABLE IF EXISTS bj_t2")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
    }
  }
}
