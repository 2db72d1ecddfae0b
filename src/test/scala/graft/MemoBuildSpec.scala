package graft

import org.apache.spark.sql.functions._

/** Tables.memoPersist's build ledger bills self time: a frame first built
  * inside another frame's build is billed once, so the entries of one
  * outermost build sum to its wall. */
class MemoBuildSpec extends SparkSpec {

  test("a nested memo build is billed once and the ledger sums to the outer wall") {
    Tables.drainBuildTimes()
    var inner: org.apache.spark.sql.DataFrame = null
    val t0 = System.nanoTime()
    val outer = Tables.memoPersist(spark, "memo-build-spec.outer") {
      inner = Tables.memoPersist(spark, "memo-build-spec.inner") {
        Thread.sleep(500)
        spark.range(1000).toDF("id")
      }
      inner.withColumn("x", col("id") * 2)
    }
    val wall = (System.nanoTime() - t0) / 1e9
    val billed = Tables.drainBuildTimes().filter(_._1.startsWith("memo-build-spec."))
    outer.unpersist()
    inner.unpersist()
    assert(billed.map(_._1) == Seq("memo-build-spec.inner", "memo-build-spec.outer"))
    val self = billed.toMap
    assert(self("memo-build-spec.inner") >= 0.5)
    assert(self("memo-build-spec.outer") < 0.5, "outer build billed its nested build")
    assert(math.abs(billed.map(_._2).sum - wall) < 0.05, s"ledger ${billed} vs wall $wall")
  }
}
