package graft

import graft.ops.Pipeline
import graft.sources.ShardSink
import org.apache.spark.sql.functions._

/** The shard sink's three contracts: the written layout is one
  * directory per shard with one file per shard (the repartition-by-key
  * guarantee), readback round-trips every row, and reading a single
  * shard prunes at the partition level rather than filtering rows. */
class ShardWriteSpec extends SparkSpec {

  test("partitioned shard write: layout, round-trip, pruned readback") {
    val out = scratchDir("graft-shards-")
    val routed = ShardSink.writeShards(spark, Sf0001, out)

    // layout: every present shard is a shard=N directory with ONE file
    val dirs = new java.io.File(out).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("shard="))
    assert(dirs.nonEmpty && dirs.length <= Pipeline.NumShards)
    dirs.foreach { d =>
      assert(d.listFiles().count(_.getName.endsWith(".parquet")) === 1)
    }

    // round-trip: identical (doc_id, shard) multiset
    val back = spark.read.parquet(out)
    val a = back.select(col("doc_id"), col("shard").cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted
    val b = routed.select(col("doc_id"), col("shard"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted
    assert(a === b)

    // pruning: a one-shard read carries the predicate as a partition
    // filter (directory pruning), not a row-level data filter
    val one = back.where(col("shard") === 3)
    val plan = one.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") &&
      plan.matches("(?s).*PartitionFilters: \\[[^\\]]*shard[^\\]]*\\].*"))
    val expected = routed.where(col("shard") === 3).count()
    assert(one.count() === expected)
  }
}
