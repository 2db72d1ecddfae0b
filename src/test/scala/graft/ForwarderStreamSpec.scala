package graft

import graft.cdc.{ChangeFeed, Forwarder}
import graft.streaming.ChangeFeedStream
import org.apache.spark.sql.streaming.Trigger

/** The fan-out pipeline (decode → remap → route → specific filter) applied
  * unchanged to a Structured Streaming source must deliver exactly the
  * batch result — the streaming half of SURVEY §2 row 9. */
class ForwarderStreamSpec extends SparkSpec {

  test("streaming fan-out delivers the same rows as the batch plan") {
    val work = stageEventsDir()
    val stream = ChangeFeedStream.readEvents(spark, work)
    val q = Forwarder.fanoutFromDecoded(spark, ChangeFeed.decodedWithMapFrom(stream))
      .writeStream
      .outputMode("append")
      .format("memory")
      .queryName("fan_stream")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()

    def key(r: org.apache.spark.sql.Row) =
      (r.getAs[String]("sub_id"), r.getAs[Long]("lsn"), r.getAs[Long]("idx"),
        r.getAs[String]("base"), r.getAs[String]("kind"))
    val streamed = spark.table("fan_stream").collect().map(key).sorted
    val batch = Forwarder.fanout(spark, Sf0001).collect().map(key).sorted
    assert(streamed.length === batch.length)
    assert(streamed === batch)
  }
}
