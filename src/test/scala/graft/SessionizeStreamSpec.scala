package graft

import graft.relational.Queries
import graft.streaming.ChangeFeedStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** Stateful streaming sessionization (flatMapGroupsWithState) must emit
  * exactly the batch gap-sessionization result for every CLOSED session —
  * each user's final session stays open in state and is not emitted. */
class SessionizeStreamSpec extends SparkSpec {

  test("streaming closed sessions equal batch sessions minus the open tail") {
    val work = scratchDir("graft-sess-")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$Sf0001/events.parquet"),
      java.nio.file.Paths.get(s"$work/part1.parquet"))

    val q = ChangeFeedStream.sessionize(ChangeFeedStream.readEvents(spark, work))
      .writeStream
      .outputMode("append")
      .format("memory")
      .queryName("sess_stream")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()

    def key(r: org.apache.spark.sql.Row) =
      (r.getAs[Long]("user_id"), r.getAs[Long]("session_seq"),
        r.getAs[Long]("n_events"), r.getAs[Long]("start_us"),
        r.getAs[Long]("end_us"), r.getAs[Long]("first_event_id"))
    val streamed = spark.table("sess_stream").collect().map(key).sorted

    val batch = Queries.eventsSessionize(spark, Sf0001)
    val lastPerUser = batch.groupBy("user_id")
      .agg(max("session_id").as("last_id"))
    val closedBatch = batch
      .join(lastPerUser, Seq("user_id"))
      .where(col("session_id") < col("last_id"))
      .select(col("user_id"), col("session_id").as("session_seq"),
        col("n_events"), col("start_us"), col("end_us"), col("first_event_id"))
      .collect().map(key).sorted

    assert(streamed.length === closedBatch.length)
    assert(streamed === closedBatch)
  }
}
