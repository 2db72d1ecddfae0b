package graft

import java.nio.file.{Files, Paths}
import graft.cdc.Forwarder
import graft.streaming.{ChangeFeedStream, Scd2Stream}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** Streaming twin of the batch SCD2 history (SURVEY §2 row 90, the
  * cdc_snapshot twin pattern): replay the feed as TWO micro-batches split
  * at the LSN median — so open versions from batch 1 must be closed by
  * batch 2's changes, the cross-batch case a single-batch test can't
  * exercise — and assert the incrementally merged history equals the
  * batch cdcScd2 output row-for-row. */
class Scd2StreamSpec extends SparkSpec {

  private def key(r: org.apache.spark.sql.Row) =
    (r.getAs[String]("base"), r.getAs[Long]("uid"), r.getAs[Long]("version"),
      r.getAs[Long]("valid_from"), r.getAs[Long]("valid_to"),
      r.getAs[Long]("is_current"), r.getAs[String]("kind"))

  test("two-batch incremental SCD2 merge equals batch history") {
    val work = scratchDir("graft-scd2-")
    val srcDir = s"$work/events"
    Files.createDirectories(Paths.get(srcDir))

    // split the feed at the LSN (= event_id) median: batch 2 must close
    // versions batch 1 left open
    val ev = Tables.events(spark, Sf0001)
    val ids = ev.select("event_id").orderBy("event_id").collect().map(_.getLong(0))
    val mid = ids(ids.length / 2)
    ev.where(col("event_id") < mid).coalesce(1)
      .write.parquet(s"$srcDir/half1")
    var cursor: Option[org.apache.spark.sql.DataFrame] = None
    var closed: Option[org.apache.spark.sql.DataFrame] = None

    def drain(): Unit = {
      val q = ChangeFeedStream.readEvents(spark, s"$srcDir/half1")
        .writeStream
        .outputMode("append")
        .option("checkpointLocation", s"$work/ckpt")
        .trigger(Trigger.AvailableNow())
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
          val (nc, newlyClosed) = Scd2Stream.step(cursor,
            Scd2Stream.changesFrom(batch).localCheckpoint(eager = true))
          cursor = Some(nc.localCheckpoint(eager = true))
          closed = Some(closed.fold(newlyClosed)(_.unionByName(newlyClosed))
            .localCheckpoint(eager = true))
          ()
        }
        .start()
      q.awaitTermination()
    }

    drain()
    val openAfter1 = Scd2Stream.history(cursor.get, closed.get)
      .where(col("is_current") === 1).count()
    assert(openAfter1 > 0, "batch 1 must leave open versions to close")

    ev.where(col("event_id") >= mid).coalesce(1)
      .write.mode("append").parquet(s"$srcDir/half1")
    drain()

    val streamed = Scd2Stream.history(cursor.get, closed.get)
      .collect().map(key).sorted
    val batch = Forwarder.cdcScd2(spark, Sf0001).collect().map(key).sorted
    assert(streamed.length === batch.length,
      s"row count: streamed ${streamed.length} vs batch ${batch.length}")
    assert(streamed === batch)

    // cross-batch closure really happened: some version closed by batch 2
    // opened in batch 1
    val crossClosed = closed.get
      .where(col("valid_from") < mid && col("valid_to") >= mid).count()
    assert(crossClosed > 0, "no version opened in batch 1 was closed by batch 2")
  }
}
