package graft

import java.nio.file.{Files, Paths}

import graft.cdc.ChangeFeed
import graft.streaming.StreamRateHarness
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import org.apache.spark.storage.StorageLevel

/** The per-batch apply contract of [[StreamRateHarness.applyFeedBatch]]:
  * its observe-derived batch stats equal a separate aggregate over the
  * same batch, the batch is persisted only while it runs, and a failing
  * state merge surfaces only after the concurrent fan-out write ended,
  * with no Spark job left running. Exactly-once across restart is
  * JdbcPipelineSpec's. */
class FeedApplySpec extends SparkSpec {

  private val rawSchema = StructType(Seq(
    StructField("lsn", LongType), StructField("payload", StringType)))

  /** The first `n` sf0.001 wal2json documents, dense lsns 1..n, with the
    * documents at `truncate` cut in half (invalid JSON). */
  private def decodedBatch(n: Int, truncate: Set[Int]): DataFrame = {
    val docs = ChangeFeed.messages(spark, Sf0001).orderBy("lsn").limit(n)
      .collect().zipWithIndex.map { case (r, i) =>
        val p = r.getString(1)
        Row(i + 1L, if (truncate(i)) p.take(p.length / 2) else p)
      }
    ChangeFeed.decodedWithMapFromRaw(spark.createDataFrame(
      spark.sparkContext.parallelize(docs.toSeq, 2), rawSchema))
  }

  /** applyFeedBatch, returning the stats it recorded. */
  private def apply(work: String, batch: DataFrame,
      batchId: Long): Option[StreamRateHarness.SyncBatch] = {
    var got = Option.empty[StreamRateHarness.SyncBatch]
    StreamRateHarness.applyFeedBatch(spark, work, batch, batchId, b => got = Some(b))
    got
  }

  test("observed batch stats equal the count/countDistinct/min/max aggregate") {
    val batch = decodedBatch(300, truncate = Set(7))
    val agg = batch.agg(count(lit(1)), countDistinct(col("lsn")),
      min(col("lsn")), max(col("lsn"))).head()
    // the fixture must carry multi-statement documents and a dead letter
    assert(agg.getLong(0) > agg.getLong(1), "no multi-statement document")
    assert(agg.getLong(1) == 299L, "the truncated document must not decode")

    val work = scratchDir("graft-feed-apply-")
    assert(apply(work, batch, 0L) === Some(StreamRateHarness.SyncBatch(0L,
      agg.getLong(0), agg.getLong(1), agg.getLong(2), agg.getLong(3))))
    assert(batch.storageLevel == StorageLevel.NONE, "batch left persisted")
    assert(spark.read.parquet(s"$work/snapshot/state_0").count() > 0)

    // a batch of dead letters only decodes to nothing: no stats, no hang
    val dead = decodedBatch(5, truncate = (0 until 5).toSet)
    assert(apply(work, dead, 1L).isEmpty)
  }

  test("a failing state merge throws after the fan-out write ended") {
    val work = scratchDir("graft-feed-apply-")
    // a prior state version that is not parquet: the merge's read fails
    // inside its Spark job while the fan-out write runs
    Files.createDirectories(Paths.get(s"$work/snapshot/state_0"))
    Files.write(Paths.get(s"$work/snapshot/state_0/part-00000.parquet"),
      "not parquet".getBytes("UTF-8"))
    val batch = decodedBatch(300, truncate = Set.empty)
    var recorded = false
    intercept[Exception] {
      StreamRateHarness.applyFeedBatch(spark, work, batch, 1L, _ => recorded = true)
    }
    assert(!recorded, "stats recorded for a failed batch")
    assert(Files.exists(Paths.get(s"$work/deliveries/batch_1/_SUCCESS")),
      "the fan-out write must complete before the state failure surfaces")
    assert(spark.sparkContext.statusTracker.getActiveJobIds().isEmpty,
      "a sink's Spark job outlived applyFeedBatch")
    assert(batch.storageLevel == StorageLevel.NONE, "batch left persisted")
  }
}
