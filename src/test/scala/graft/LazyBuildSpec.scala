package graft

import org.apache.spark.sql.functions._
import graft.cdc.Forwarder

/** Shared frames are memo frames ([[Tables.memoPersist]]), built once per
  * session; everything else is a plan. So once a key's memo frames exist,
  * building its DataFrame runs no Spark job: its whole work shows in
  * `explain` and runs at the caller's action. An eager checkpoint inside
  * a build would run a job on every call. */
class LazyBuildSpec extends SparkSpec {

  test("after their memo builds, dedup_snm, winnow_overlap, cdc_scd2_inc and scd2Merged build without a job") {
    for (key <- Seq("dedup_snm", "winnow_overlap", "cdc_scd2_inc")) {
      val build = SparkEntry.queries(key)
      build(spark, Sf0001) // the first build runs the key's memo builds
      val (_, jobs) = jobsRunBy(s"build $key")(build(spark, Sf0001))
      assert(jobs.isEmpty, s"$key: building the frame ran Spark jobs: $jobs")
    }
    import spark.implicits._
    val rows = Seq(("t", 1L, 10L, 0L, "insert"), ("t", 1L, 20L, 0L, "update"),
      ("t", 2L, 20L, 1L, "insert"), ("t", 1L, 30L, 0L, "delete"),
      ("t", 2L, 40L, 0L, "update"))
      .toDF("base", "uid", "lsn", "idx", "kind")
    val (merged, jobs) = jobsRunBy("build scd2Merged") {
      Forwarder.scd2Merged(rows.where(col("lsn") <= 20L), rows.where(col("lsn") > 20L))
    }
    assert(jobs.isEmpty, s"scd2Merged: building the frame ran Spark jobs: $jobs")
    val full = Forwarder.scd2Merged(rows, rows.limit(0))
    assert(merged.collect().toSeq == full.collect().toSeq)
  }
}
