package graft

import java.nio.file.{Files, Paths}

import graft.cdc.{ChangeFeed, Forwarder, Subscription}
import graft.streaming.StreamRateHarness
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import org.apache.spark.storage.StorageLevel

/** The per-batch apply contract of [[StreamRateHarness.applyFeedBatch]]:
  * its observe-derived batch stats equal a separate aggregate over the
  * same batch, the batch is never left persisted, a replayed batch
  * rewrites only its own state version and the versions fold to the
  * whole feed's state, and a failing state write surfaces only after the
  * concurrent fan-out write ended, with no Spark job left running.
  * Exactly-once across restart is JdbcPipelineSpec's. */
class FeedApplySpec extends SparkSpec {

  private val rawSchema = StructType(Seq(
    StructField("lsn", LongType), StructField("payload", StringType)))

  private lazy val subs = Subscription.routable(spark)

  /** The sf0.001 wal2json documents at positions [from, until), each at
    * dense lsn position + 1, with the documents at `truncate` cut in half
    * (invalid JSON). */
  private def decodedBatch(from: Int, until: Int, truncate: Set[Int]): DataFrame = {
    val docs = ChangeFeed.messages(spark, Sf0001).orderBy("lsn").limit(until)
      .collect().zipWithIndex.drop(from).map { case (r, i) =>
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
    StreamRateHarness.applyFeedBatch(spark, work, batch, batchId, subs, b => got = Some(b))
    got
  }

  test("observed batch stats equal the count/countDistinct/min/max aggregate") {
    val batch = decodedBatch(0, 300, truncate = Set(7))
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
    val dead = decodedBatch(0, 5, truncate = (0 until 5).toSet)
    assert(apply(work, dead, 1L).isEmpty)
  }

  test("a replayed batch rewrites only its own state version") {
    val work = scratchDir("graft-feed-apply-")
    val b1 = decodedBatch(0, 300, truncate = Set.empty)
    val b2 = decodedBatch(300, 600, truncate = Set.empty)
    apply(work, b1, 1L)
    apply(work, b1, 1L) // the replay of batch 1 under its own id
    apply(work, b2, 2L)
    val folded = StreamRateHarness.state(spark, work)
    val whole = Forwarder.snapshotState(Forwarder.keyed(b1.unionByName(b2)))
    assert(folded.where(col("last_kind") === "delete").count() > 0,
      "fixture must leave tombstones in the state")
    def rows(id: Long) = spark.read.parquet(s"$work/snapshot/state_$id").count()
    assert(folded.count() < rows(1) + rows(2),
      "fixture must have entities written in both batches")
    assert(folded.exceptAll(whole).count() == 0 && whole.exceptAll(folded).count() == 0,
      "the folded versions must equal the LWW fold of both batches")
  }

  test("a failing state write throws after the fan-out write ended") {
    val work = scratchDir("graft-feed-apply-")
    // `snapshot` is a regular file, so the state write cannot make its
    // version directory while the fan-out write runs
    Files.write(Paths.get(s"$work/snapshot"), "not a directory".getBytes("UTF-8"))
    val batch = decodedBatch(0, 300, truncate = Set.empty)
    var recorded = false
    intercept[Exception] {
      StreamRateHarness.applyFeedBatch(spark, work, batch, 1L, subs, _ => recorded = true)
    }
    assert(!recorded, "stats recorded for a failed batch")
    assert(Files.exists(Paths.get(s"$work/deliveries/batch_1/_SUCCESS")),
      "the fan-out write must complete before the state failure surfaces")
    assert(spark.sparkContext.statusTracker.getActiveJobIds().isEmpty,
      "a sink's Spark job outlived applyFeedBatch")
    assert(batch.storageLevel == StorageLevel.NONE, "batch left persisted")
  }
}
