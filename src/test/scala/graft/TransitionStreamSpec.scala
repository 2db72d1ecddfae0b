package graft

import graft.relational.Queries
import graft.streaming.{ChangeFeedStream, TransitionStream}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** The streaming transition matrix must equal the batch one once the
  * stream drains — INCLUDING transitions whose two events arrive in
  * DIFFERENT micro-batches (the state-store carry is the whole point).
  * The fixture splits the events table into two files at the median
  * timestamp and forces one file per trigger, so every user active on
  * both sides of the split exercises the cross-batch path. */
class TransitionStreamSpec extends SparkSpec {

  test("streaming transitions equal batch transitions across a batch boundary") {
    // stage two time-ordered halves with increasing mtimes so the file
    // source replays them in event-time order
    val work = scratchDir("graft-trans-")
    val ev = spark.read.parquet(s"$Sf0001/events.parquet")
    val half = ev.count() / 2
    val ranked = ev.withColumn("rn", row_number().over(
      org.apache.spark.sql.expressions.Window.orderBy("ts", "event_id")))
    ranked.where(col("rn") <= half).drop("rn").coalesce(1)
      .write.parquet(s"$work/h1")
    ranked.where(col("rn") > half).drop("rn").coalesce(1)
      .write.parquet(s"$work/h2")
    def promote(sub: String, name: String, mtime: Long): Unit = {
      val f = new java.io.File(s"$work/$sub").listFiles()
        .find(_.getName.endsWith(".parquet")).get
      val dst = new java.io.File(s"$work/$name")
      java.nio.file.Files.move(f.toPath, dst.toPath)
      dst.setLastModified(mtime): Unit
    }
    val now = System.currentTimeMillis()
    promote("h1", "events-a.parquet", now - 60000)
    promote("h2", "events-b.parquet", now)

    val stream = TransitionStream.transitions(
      ChangeFeedStream.readEvents(spark, s"$work/events-*.parquet",
        maxFilesPerTrigger = Some(1)))
    val q = stream.toDF("from_type", "to_type").writeStream
      .outputMode("append")
      .format("memory")
      .queryName("trans_stream")
      .option("checkpointLocation", s"$work/ckpt")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    assert(q.recentProgress.count(_.numInputRows > 0) >= 2,
      "fixture must span at least two non-empty micro-batches")

    val streamed = spark.table("trans_stream")
      .groupBy("from_type", "to_type").agg(count(lit(1)).as("n_trans"))
      .collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    Knobs.noteDir(Sf0001)
    val batch = Queries.eventTransitions(spark, Sf0001)
      .select("from_type", "to_type", "n_trans").collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(streamed == batch)

    def rm(p: java.io.File): Unit = {
      val kids = p.listFiles(); if (kids != null) kids.foreach(rm)
      p.delete(): Unit
    }
    rm(new java.io.File(work))
  }
}
