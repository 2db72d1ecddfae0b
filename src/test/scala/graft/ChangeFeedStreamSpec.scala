package graft

import java.nio.file.{Files, Paths, StandardCopyOption}
import graft.streaming.ChangeFeedStream
import org.apache.spark.sql.functions._

/** Checkpointed streaming ingest: windowed counts over a file stream must
  * match the batch plan, and a restart must resume from checkpointed
  * offsets (only new files processed) while recovering window state —
  * the LSN standby-status analogue (reference src/cdc/replication.rs). */
class ChangeFeedStreamSpec extends SparkSpec {

  test("windowed stream counts match batch, restart resumes from offsets") {
    val work = scratchDir("graft-stream-")
    val srcDir = s"$work/events"
    val ckpt = s"$work/ckpt"
    Files.createDirectories(Paths.get(srcDir))
    val src = Paths.get(s"$Sf0001/events.parquet")

    // batch 1: one file present
    Files.copy(src, Paths.get(s"$srcDir/part1.parquet"), StandardCopyOption.REPLACE_EXISTING)
    val q1 = ChangeFeedStream.checkpointedQuery(
      ChangeFeedStream.windowCounts(ChangeFeedStream.readEvents(spark, srcDir)),
      ckpt, "wc1").start()
    q1.awaitTermination()
    val rows1 = spark.table("wc1").agg(sum("count")).collect()(0).getLong(0)
    val batchRows = spark.read.parquet(s"$srcDir/part1.parquet").count()
    assert(rows1 === batchRows, "stream must count exactly the batch rows")

    // batch counts equal stream counts per (window, type)
    val streamed = spark.table("wc1")
      .select(col("window.start").cast("long").as("win_s"), col("event_type"), col("count"))
      .collect().map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2)).toMap
    val batch = ChangeFeedStream.streamWindowCounts(spark, Sf0001)
      .collect().map(r => (r.getLong(0) / 1000000L, r.getString(1)) -> r.getLong(2)).toMap
    assert(streamed === batch, "stream windows must equal the batch equivalent")

    // batch 2: add a second file; restart must process ONLY the new file
    Files.copy(src, Paths.get(s"$srcDir/part2.parquet"), StandardCopyOption.REPLACE_EXISTING)
    val q2 = ChangeFeedStream.checkpointedQuery(
      ChangeFeedStream.windowCounts(ChangeFeedStream.readEvents(spark, srcDir)),
      ckpt, "wc2").start()
    q2.awaitTermination()
    val inputRows2 = q2.recentProgress.map(_.numInputRows).sum
    assert(inputRows2 === batchRows,
      s"restart must read only the new file ($batchRows rows), got $inputRows2")
    // ...while total counts (recovered state + new data) cover both files
    val rows2 = spark.table("wc2").agg(sum("count")).collect()(0).getLong(0)
    assert(rows2 === 2 * batchRows, "recovered state must include the first file")
  }
}
