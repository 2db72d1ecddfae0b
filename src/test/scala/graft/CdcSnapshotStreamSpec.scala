package graft

import graft.cdc.{ChangeFeed, Forwarder}
import graft.streaming.ChangeFeedStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** The snapshot materializer as a streaming aggregation: per (base,
  * entity) running max-LSN state in complete mode must converge to
  * exactly the batch cdc_snapshot once the stream drains — the streaming
  * half of SURVEY §2 row 50 (a live materialized view a reference
  * consumer would keep while replaying the feed). */
class CdcSnapshotStreamSpec extends SparkSpec {

  test("streaming snapshot state equals the batch snapshot") {
    val work = stageEventsDir()
    val stream = ChangeFeedStream.readEvents(spark, work)
    val snapState = Forwarder.snapshotState(
      Forwarder.keyed(ChangeFeed.decodedWithMapFrom(stream)))
    val q = snapState.writeStream
      .outputMode("complete")
      .format("memory")
      .queryName("snap_stream")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()

    def key(r: org.apache.spark.sql.Row) =
      (r.getAs[String]("base"), r.getAs[Long]("uid"), r.getAs[Long]("last_lsn"),
        r.getAs[String]("last_kind"), r.getAs[Long]("n_changes"))
    val streamed = spark.table("snap_stream")
      .where(col("last_kind") =!= "delete")
      .collect().map(key).sorted
    val batch = Forwarder.cdcSnapshot(spark, Sf0001).collect().map(key).sorted
    assert(streamed.length === batch.length)
    assert(streamed === batch)
  }
}
